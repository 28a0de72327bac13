"""Turn the harness's raw measurements into the benchmark's metrics, and
run the DuckDB side of the correctness gate.

Pure helpers (`wquantile`, `self_times`, `stream_lags`, `backlog_max`)
are unit-tested in `test_bench.py`.
"""
import hashlib
import json
import os
import shutil
import statistics
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import duckdb

# ---------------------------------------------------------------- helpers


def wquantile(samples, q):
    """Weighted quantile: the smallest value whose cumulative weight
    reaches q of the total. `samples` is [(value, weight)]."""
    s = sorted(samples)
    total = sum(w for _, w in s)
    if total <= 0:
        raise ValueError("no samples")
    acc = 0.0
    for v, w in s:
        acc += w
        if acc >= q * total - 1e-9:
            return v
    return s[-1][0]


def self_times(spans):
    """Each span's duration minus the part of its interval its child
    spans cover (children may overlap each other)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in kids[s["id"]])
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def batch_ends(progress, query):
    """batch id -> end of that micro-batch (trigger start + trigger
    execution), in epoch ms."""
    return {p["batch"]: p["start_ms"] + p["duration_ms"].get("triggerExecution", 0)
            for p in progress if p["query"] == query}


def stream_lags(slices, batch_files, ends):
    """Per-slice lag: the end of the micro-batch that read the slice's
    file minus the moment the slice became visible. Returns
    [(lag_ms, rows)], one entry per slice the query read."""
    batch_of = {f: b for b, f in batch_files}
    out = []
    for s in slices:
        b = batch_of.get(s["file"])
        if b is not None and b in ends:
            out.append((ends[b] - s["visible_ms"], s["rows"]))
    return out


def backlog_max(slices, batch_files, ends):
    """Most slices visible but not yet emitted at any moment."""
    batch_of = {f: b for b, f in batch_files}
    ev = []
    for s in slices:
        b = batch_of.get(s["file"])
        if b is not None and b in ends:
            ev += [(s["visible_ms"], 1), (ends[b], -1)]
    cur = best = 0
    for _, d in sorted(ev, key=lambda e: (e[0], e[1])):
        cur += d
        best = max(best, cur)
    return best


def med(xs):
    return statistics.median(xs) if xs else 0.0


def quantiles(samples):
    """p50 and p99 of weighted samples, and the sample count."""
    if not samples:
        return 0.0, 0.0, 0
    return (wquantile(samples, 0.50), wquantile(samples, 0.99),
            int(sum(w for _, w in samples)))


# ---------------------------------------------------------------- oracle


def _views(con, workload, inp, extra):
    if workload == "curation_cold":
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{inp}/documents.parquet')")
    else:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{inp}/events.parquet')")
        con.execute(f"CREATE VIEW changelog_all AS {extra['changelog_sql']}")
        con.execute(f"CREATE VIEW changelog_filtered AS SELECT * FROM changelog_all "
                    f"WHERE {extra['filtered_sql']}")


def serve_oracles(req_dir, workload, inp, cache_dir):
    """Answer the harness's oracle requests: run each SQL in DuckDB over
    the same inputs and write its rows where the harness reads them.
    Results are cached per input digest (`cache_dir`)."""
    with open(f"{req_dir}/request.json") as f:
        req = json.load(f)
    con = duckdb.connect()
    _views(con, workload, inp, req["extra"])
    os.makedirs(cache_dir, exist_ok=True)

    def one(r):
        key = hashlib.sha256(r["sql"].encode()).hexdigest()[:12]
        cached = os.path.join(cache_dir, f"{r['name']}-{key}.parquet")
        cur = con.cursor()
        try:
            if not os.path.exists(cached):
                if r["view"] in ("all", "filtered"):
                    cur.execute(f"CREATE TEMP VIEW changelog AS "
                                f"SELECT * FROM changelog_{r['view']}")
                cur.execute(f"COPY ({r['sql']}) TO '{cached}.tmp' (FORMAT PARQUET)")
                os.replace(cached + ".tmp", cached)
            shutil.copyfile(cached, r["path"])
            return None
        except (duckdb.Error, OSError) as e:
            return str(e)[:300]
        finally:
            cur.close()

    # the slowest oracles first, so the pool ends together
    reqs = sorted(req["requests"], key=lambda r: -len(r["sql"]))
    with ThreadPoolExecutor(4) as pool:
        errors = {r["name"]: e for r, e in zip(reqs, pool.map(one, reqs)) if e}
    with open(f"{req_dir}/errors.json", "w") as f:
        json.dump(errors, f)
    open(f"{req_dir}/done", "w").close()


# ---------------------------------------------------------------- metrics


def _calls(raw, phase):
    return [c for c in raw["calls"] if c.get("phase") == phase and "ms" in c]


def _rate(calls, rows):
    """`rows` moved by one pass over the calls ÷ the sum of each call's
    median duration over the passes: a slow call in one round moves
    one median, not the whole rate."""
    by = defaultdict(list)
    for c in calls:
        by[c["name"]].append(c["ms"])
    total = sum(med(v) for v in by.values())
    return rows / total * 1000.0 if total else 0.0


def _calls_rate(calls):
    """Closed-loop rate: each call moves its whole input."""
    return _rate(calls, sum(c["rows_in"] for c in {c["name"]: c for c in calls}.values()))


# open-loop slices due in the first WARM_MS are not lag samples
WARM_MS = 1000


def drain_rate(raw, phase):
    """Drain throughput from the drain's micro-batches: each query's
    median rows per second of trigger time, summed over the two queries
    that drain the backlog side by side."""
    total = 0.0
    for q in ("pipeline", "snapshot"):
        rates = [p["rows"] / p["duration_ms"]["triggerExecution"] * 1000.0
                 for p in raw["progress"]
                 if p["query"] == f"drain-{phase}.{q}" and p["rows"] > 0
                 and p["duration_ms"].get("triggerExecution")]
        total += med(rates)
    return total


def end_to_end(workload, raw, phase):
    """The end-to-end metrics of one phase's samples (empty when the
    run has no such phase)."""
    calls = _calls(raw, phase)
    if not calls:
        return {}
    m = {}
    if workload == "changefeed":
        # replication rate: the closed-loop batch rounds; lag: the open
        # loop, per event, both queries pooled
        m["rows_per_s"] = _calls_rate(calls)
        op = raw["extra"].get(f"open.{phase}", {})
        # the first second is the queries' start-up transient
        slices = [s for s in op.get("slices", [])
                  if s["due_ms"] >= op["start_ms"] + WARM_MS]
        lags = []
        for q in ("pipeline", "snapshot"):
            ends = batch_ends(raw["progress"], f"{phase}.{q}")
            lags += stream_lags(slices, op.get("batch_files", {}).get(q, []), ends)
        m["lag_p50_ms"], m["lag_p99_ms"], m["lag_samples"] = quantiles(lags)
        m["drain_rows_per_s"] = drain_rate(raw, phase)
    else:
        # documents through the pass; the release is one of its calls
        m["rows_per_s"] = _rate(calls, calls[0]["rows_in"])
    m["heap_after_gc_peak_mb"] = raw["heap_after_gc_peak_mb"].get(phase, 0.0)
    return m


def _span_stats(raw, runs=("traced", "layers")):
    """The traced arms' spans and the prefix spans, and each span name's
    median self time."""
    spans = [s for s in raw["spans"] if s["run"] in runs]
    st = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(st[s["id"]])
    return spans, {k: med(v) for k, v in by_name.items()}


def _subtree_totals(spans, name):
    """Summed task metrics and plan time over every span named `name`
    and its descendants; also the number of such spans and their
    summed duration."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    tot, n, wall = defaultdict(float), 0, 0.0
    for root in (s for s in spans if s["name"] == name):
        n += 1
        wall += root["end_ms"] - root["start_ms"]
        stack = [root]
        while stack:
            s = stack.pop()
            for k, v in s["tasks"].items():
                tot[k] += v
            tot["plan_ms"] += s["attrs"].get("plan_ms", 0.0)
            stack += kids[s["id"]]
    return tot, n, wall


def _engine(prefix, tot, n, wall, cores):
    n = max(n, 1)
    return {
        f"{prefix}.plan_ms": tot["plan_ms"] / n,
        f"{prefix}.task_cpu_ms": tot["cpu_ms"] / n,
        f"{prefix}.gc_ms": tot["gc_ms"] / n,
        f"{prefix}.busy_ratio": tot["run_ms"] / (wall * cores) if wall else 0.0,
        f"{prefix}.shuffle_bytes": tot["shuffle_write_bytes"] / n,
        f"{prefix}.spill_bytes": tot["spill_bytes"] / n,
    }


def _arm_rate(raw, phase, arm):
    calls = [c for c in _calls(raw, phase) if c["group"] == arm]
    return _calls_rate(calls)


PROTOCOLS = ("canal_json", "debezium", "csv", "avro")


def layers_changefeed(raw, cores):
    spans, st = _span_stats(raw)
    m = {}
    for arm in ("encode", "apply", "consume"):
        m[f"{arm}.rows_per_s"] = _arm_rate(raw, "untraced", arm)
        m.update(_engine(arm, *_subtree_totals(spans, arm), cores))
    for a in ("encode", "consume"):
        one = _arm_rate(raw, "scale1", a)
        m[f"scale.{a}_speedup"] = m[f"{a}.rows_per_s"] / one if one else 0.0
    m["changelog.self_ms"] = st.get("prefix.changelog", 0.0)
    m["filter.self_ms"] = st.get("prefix.filter", 0.0) - m["changelog.self_ms"]
    m["route.self_ms"] = st.get("prefix.route", 0.0) - st.get("prefix.filter", 0.0)
    m["dispatch.self_ms"] = st.get("prefix.dispatch", 0.0) - st.get("prefix.route", 0.0)
    rows = {c["name"]: c["rows_out"] for c in raw["calls"] if c.get("rows_out")}
    if rows.get("prefix.changelog"):
        m["filter.pass_ratio"] = rows["prefix.filter"] / rows["prefix.changelog"]
    parts = raw["extra"].get("partition_rows") or []
    if parts:
        m["dispatch.partition_skew"] = max(parts) / (sum(parts) / len(parts))
    m["encode.value_bytes"] = float(sum((raw["extra"].get("value_bytes") or {}).values()))
    for p in PROTOCOLS:
        m[f"encode.{p}.self_ms"] = st.get(f"encode.{p}", 0.0) - st.get("prefix.dispatch", 0.0)
        m[f"decode.{p}.self_ms"] = st.get(f"decode.{p}", 0.0) - st.get(f"decode_prefix.{p}", 0.0)
    for a in ("mysql", "snapshot", "txn"):
        m[f"apply.{a}.self_ms"] = st.get(f"apply.{a}", 0.0) - st.get("prefix.filter", 0.0)
    return m


def layers_stream(raw, cores):
    m = {}
    # the open loop's micro-batches (the drain's are in drain.rows_per_s)
    prog = [p for p in raw["progress"]
            if p["query"] in ("traced.pipeline", "traced.snapshot") and p["rows"] > 0]
    d = lambda k: [p["duration_ms"].get(k, 0) for p in prog]  # noqa: E731
    m["batch.count"] = float(len(prog))
    m["batch.rows_p50"] = med([p["rows"] for p in prog])
    trig = [(v, 1) for v in d("triggerExecution")]
    if trig:
        m["batch.trigger_ms_p50"], m["batch.trigger_ms_p99"], _ = quantiles(trig)
    m["batch.latest_offset_ms_p50"] = med(d("latestOffset"))
    m["batch.planning_ms_p50"] = med(d("queryPlanning"))
    m["batch.add_batch_ms_p50"] = med(d("addBatch"))
    m["batch.wal_commit_ms_p50"] = med(d("walCommit"))
    state = [s for p in prog if p["query"] == "traced.snapshot" for s in p["state"]]
    if state:
        m["state.rows_total"] = float(state[-1]["rows_total"])
        m["state.commit_ms_p50"] = med([s["commit_ms"] for s in state])
        m["state.memory_bytes"] = float(max(s["memory_bytes"] for s in state))
    op = raw["extra"].get("open.traced")
    if op:
        m["backlog.slices_max"] = float(max(
            backlog_max(op["slices"], op["batch_files"][q],
                        batch_ends(raw["progress"], f"traced.{q}"))
            for q in ("pipeline", "snapshot")))
        m["gen.late_ms_max"] = float(max(s["begin_ms"] - s["due_ms"] for s in op["slices"]))
    runs = {c["run_id"] for c in raw["calls"]
            if c.get("phase") == "traced" and c["name"].startswith("traced.")}
    g = [v for k, v in raw["groups"].items() if k in runs]
    spans = [s for s in raw["spans"] if s["run"] == "traced" and s["name"] == "open_loop"]
    wall = sum(s["end_ms"] - s["start_ms"] for s in spans)
    m["stream.gc_ms"] = sum(x["gc_ms"] for x in g)
    m["stream.busy_ratio"] = sum(x["run_ms"] for x in g) / (wall * cores) if wall else 0.0
    return m


STAGES = ("tokenize", "dedup_exact", "dedup_lsh", "clusters", "keep_best",
          "quality_bank", "quality_model", "perplexity", "decontam", "pack")


def layers_curation(raw, cores, oracle_dir, manifest):
    spans, st = _span_stats(raw)
    m = {f"{s}.self_ms": st.get(s, 0.0) for s in STAGES}
    m["release.ms"] = st.get("release", 0.0)
    m["tokenize.cache_bytes"] = med([s["attrs"].get("cache_bytes", 0.0)
                                     for s in spans if s["name"] == "pipeline"])
    m["dedup_lsh.pairs"] = float(med([c["rows_out"] for c in raw["calls"]
                                      if c["name"] == "dedup_lsh" and c.get("rows_out") is not None]))
    tot, n, wall = _subtree_totals(spans, "pipeline")
    eng = _engine("curation", tot, n, wall, cores)
    m.update({k: v for k, v in eng.items() if not k.endswith("task_cpu_ms")})
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    o = lambda n: f"read_parquet('{oracle_dir}/{n}.parquet')"  # noqa: E731
    planted = manifest.get("planted") or []
    if planted and os.path.exists(f"{oracle_dir}/dedup_lsh.parquet"):
        con.execute("CREATE TABLE planted(a BIGINT, b BIGINT)")
        con.executemany("INSERT INTO planted VALUES (?, ?)", planted)
        m["dedup_lsh.planted_recall"] = q(
            f"SELECT count(*) FROM planted p JOIN {o('dedup_lsh')} l "
            f"ON l.doc_a = p.a AND l.doc_b = p.b") / len(planted)
    if os.path.exists(f"{oracle_dir}/quality_bank.parquet"):
        m["quality_bank.keep_ratio"] = q(f"SELECT avg(keep) FROM {o('quality_bank')}")
        m["decontam.drop_ratio"] = q(
            f"SELECT avg(CAST(verdict = 'drop' AS DOUBLE)) FROM {o('decontam')}")
        m["pack.fill_ratio"] = q(
            f"SELECT sum(n_tokens) / sum(bins * 2048.0) FROM (SELECT lang, shard, "
            f"sum(n_tokens) AS n_tokens, max(bin_id) + 1 AS bins FROM {o('pack')} "
            f"GROUP BY ALL)")
    return m


def funnel_check(raw, oracle_dir, inp):
    """The program's curationFunnel survivors per stage must equal the
    checked stage outputs chained in the funnel's order."""
    con = duckdb.connect()
    o = lambda n: f"read_parquet('{oracle_dir}/{n}.parquet')"  # noqa: E731
    keeps = [f"SELECT doc_id FROM {o('quality_bank')} WHERE keep = 1",
             f"SELECT doc_id FROM {o('quality_model')} WHERE keep = 1",
             f"SELECT doc_id FROM {o('perplexity')} WHERE keep = 1",
             f"SELECT doc_id FROM {o('decontam')} WHERE verdict = 'keep'"]
    cur = f"SELECT doc_id FROM read_parquet('{inp}/documents.parquet') WHERE source <> 'src0'"
    chained = [con.execute(f"SELECT count(*) FROM ({cur})").fetchone()[0]]
    for k in keeps:
        cur = f"SELECT doc_id FROM ({cur}) INTERSECT SELECT doc_id FROM ({k})"
        chained.append(con.execute(f"SELECT count(*) FROM ({cur})").fetchone()[0])
    funnel = raw["extra"].get("funnel")
    return dict(name="funnel==stages", ok=funnel == chained,
                detail=f"funnel {funnel} chained {chained}",
                calls=["quality_bank", "quality_model", "perplexity", "decontam"])


def analyze(workload, raw, manifest, inp, oracle_dir, per_layer_names):
    """Everything `run.py` prints: the gate verdict, op counts and the
    metrics (end-to-end from the untraced phase; per-layer when the run
    was traced)."""
    checks = list(raw["checks"])
    errors_file = f"{oracle_dir}/errors.json"
    if os.path.exists(errors_file):
        with open(errors_file) as f:
            for name, err in json.load(f).items():
                checks.append(dict(name=f"duckdb:{name}", ok=False, detail=err, calls=[]))
    if workload == "curation_cold" and "funnel" in raw["extra"]:
        try:
            checks.append(funnel_check(raw, oracle_dir, inp))
        except duckdb.Error as e:
            checks.append(dict(name="funnel==stages", ok=False, detail=str(e)[:300],
                               calls=["quality_bank"]))
    bad = {c for chk in checks if not chk["ok"] for c in chk["calls"]}
    attempted = len(raw["calls"])
    failed = sum(1 for c in raw["calls"] if not c["ok"] or c["name"] in bad)
    correct = failed == 0 and all(c["ok"] for c in checks)

    e2e = end_to_end(workload, raw, "untraced")
    metrics = dict(e2e, setup_s=raw["setup_s"])
    traced = end_to_end(workload, raw, "traced")
    if traced:
        layer = {n: 0.0 for n in per_layer_names}
        cores = raw["facts"]["cores"]
        if workload == "changefeed":
            layer.update(layers_changefeed(raw, cores))
            layer.update(layers_stream(raw, cores))
        else:
            layer.update(layers_curation(raw, cores, oracle_dir, manifest))
        for k in ("drain_rows_per_s", "lag_p50_ms", "lag_p99_ms", "lag_samples"):
            if k in traced:
                layer[k.replace("_", ".", 1)] = float(traced[k])
        # tracing overhead on each end-to-end metric measured in both
        # phases (set-up runs once, untraced)
        for k in ("rows_per_s", "heap_after_gc_peak_mb"):
            layer[f"overhead.{k}"] = traced.get(k, 0.0) - e2e.get(k, 0.0)
        metrics.update(layer)
    return dict(correct=correct, attempted=attempted, failed=failed,
                checks=checks, metrics=metrics,
                samples=dict(traced=traced))
