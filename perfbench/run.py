#!/usr/bin/env python3
"""spiderspark benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and this harness from source (sbt) into
`.bench_build/src-<hash>/`, keyed on a hash of every source the build,
the inputs and the verified results depend on, so a changed or different
tree is rebuilt and its inputs and reference results are made again.
Writes the workload's inputs for the seed (once per workload and seed
and source hash), then forks fresh JVMs that call the program's public
entry points: `graft.CrawlMain.run` for the crawl workloads and
`SparkEntry.queries(name)` for the query workload. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`). Every metric is also printed by name with its unit,
and the full record of the invocation, one entry per fork, is written to
`.bench_build/artifacts/`.

Workloads (why each exists is in BENCHMARK.json):

- queries: the 20 headline queries on generated TPC-H-shaped tables, in a
  seed-permuted order, after a warm-up pass over smaller tables of the
  same shape;
- seed-crawl: a bloom-filter discovery crawl (the seed plan in large
  waves, then the outlinks it finds as a second generation), after a
  warm-up crawl of a small input of the same shape.

End-to-end metrics, the same names on both workloads: `setup_s` (fork
start to the timed window), `throughput_per_s` (crawled URLs per second
of `CrawlMain.run` wall time; queries per second of a full pass),
`step_p50_ms`/`step_p95_ms` (gaps between successive manifest publishes;
single query latencies). With `--trace 1` the timed window is one
traced and one untraced repetition, in an order set by the seed (the
tracing overhead is their ratio). A traced fork then runs the other
workload in the same JVM as a probe on that workload's small warm-up
inputs, checked like the rest, so that every per-layer metric is
reported on both workloads: a seed-crawl fork times the per-URL stages,
probes the queries on the warm-up tables (one cold pass) and crawls a
smaller input on 1 and on 4 pinned cores for the scale numbers; a
queries fork probes a crawl of the warm-up crawl input (a warm-up
crawl, then one traced crawl as its window), per-URL stages and scale
pair (on that input too) included.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
# a fork still running after this is killed (and counted as failed), so
# that a run ends within 180 s
FORK_CAP_S = 165
# the per-URL stage times must sum to the whole function within this share
STAGE_SUM_TOL = 0.15
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g",
    "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]

HEADLINE_QUERIES = [
    "w_politeness_schedule", "w_crawl_order", "j_dedup_first_seen",
    "url_features", "extract_features_full", "byte_identity", "net_features",
    "html_features", "tok_terms", "tfidf_micro", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "ann_brute_topk", "ann_lsh_topk",
    "lang_id", "quality", "token_counts", "fingerprints", "multimodal_decode",
]

# seed-crawl: orders base size and replication for the generator (the
# warm-up input is seed 0 at a tenth of the orders, the scale pair's seed
# 0 at replication 1), and the CrawlMain flags (passed verbatim; also
# quoted in BENCHMARK.json).
CRAWL_ORDERS, CRAWL_REP, SCALE_REP = 3000, 4, 1
WARM_CRAWL = ("warm", 0, CRAWL_ORDERS // 10, CRAWL_REP)
CRAWL_FLAGS = ["--seen-filter", "bloom", "--wave-period-ms", "100000",
               "--compact-seen-every", "2", "--partitions", "12",
               "--discover", "--max-generations", "1"]

def log(msg):
    print(msg, flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


# ------------------------------------------------------------------ build

def source_key():
    """Hash of every file the build, the inputs and the verified results
    depend on: the root build, the program's sources, the oracle checker
    and this benchmark (build outputs excluded)."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "tools", "check_oracle.py")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"), BENCH):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "__pycache__")
                       and not x.startswith(".")
                       and not (x == "project" and os.path.basename(d) == "project")]
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        if not os.path.exists(p):
            fail(f"no {os.path.relpath(p, ROOT)} here: run from the repository root")
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def cache_dir():
    """`.bench_build/src-<key>/` for the sources in this tree; caches made
    for other sources are removed."""
    name = "src-" + source_key()
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("src-") and old != name:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    return os.path.join(BUILD, name)


def classpath():
    """Compiles the program and the harness (once per source key)."""
    cp_file = os.path.join(CACHE, "classpath.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(CACHE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


# ----------------------------------------------------------------- forks

def fork(cp, records, workload, seed, mode, inputs, seconds, trace, extra):
    """Runs one measuring JVM (`perfbench.Main <mode>`) to completion, or
    kills it at the cap, and appends its record; returns (record, parsed
    result or None)."""
    run = len(records)
    tmp = os.path.join(BUILD, "tmp", f"{workload}-{seed}-{run}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(tmp, "result.json")
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           mode, inputs, tmp, str(CORES), str(seconds), str(trace), str(seed), out, *extra]
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, cwd=ROOT)
    killed = False
    cap = FORK_CAP_S if KILL_AT is None else KILL_AT
    try:
        output, _ = proc.communicate(timeout=cap)
    except subprocess.TimeoutExpired:
        proc.kill()
        output, _ = proc.communicate()
        killed = True
    wall = time.time() - t0
    rec = dict(workload=workload, seed=seed, run=run, cores=CORES,
               wall_s=round(wall, 3), exit=proc.returncode,
               killed_at_cap=killed, tail=output[-1500:], checks=[])
    records.append(rec)
    result = None
    if proc.returncode == 0 and os.path.exists(out):
        result = json.load(open(out))
        result["setup_s"] = result["window_start_ms"] / 1000.0 - t0
    shutil.rmtree(tmp, ignore_errors=True)
    return rec, result


# ---------------------------------------------------------------- inputs

def crawl_inputs(cp, specs):
    """Generator output + DuckDB schedule replica for each (name, seed,
    orders, rep), once per input; the missing ones are made in one JVM.
    Returns their directories."""
    dirs = [os.path.join(CACHE, "inputs", "seed-crawl", s[0]) for s in specs]
    todo = [(d, s) for d, s in zip(dirs, specs) if not os.path.exists(os.path.join(d, "_DONE"))]
    if not todo:
        return dirs
    args = []
    for d, (_, seed, orders, rep) in todo:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        args += [d, str(seed), str(orders), str(rep)]
    tmp = os.path.join(BUILD, "tmp", "gen")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
         "perfbench.Main", "gen", str(CORES), *args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        cwd=ROOT, timeout=170)
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("input generation failed for " + ", ".join(s[0] for _, s in todo))
    period = int(CRAWL_FLAGS[CRAWL_FLAGS.index("--wave-period-ms") + 1])
    for d, _ in todo:
        with open(os.path.join(d, "schedule.json"), "w") as f:
            json.dump(schedule_replica(d, period), f)
        open(os.path.join(d, "_DONE"), "w").close()
    return dirs


def schedule_replica(d, period_ms):
    """Politeness schedule of the seed plan, computed by DuckDB from the
    generated seeds alone: dispatch, first-seen dedup, crawler-domain
    host, the fixture robots rule, and the per-host token bucket. Returns
    the same three-number digest the fork takes of the crawled frontier."""
    import duckdb
    sql = f"""
    WITH seeds AS (SELECT seq, url, priority FROM read_parquet('{d}/seeds/*.parquet')),
    fetchable AS (SELECT * FROM seeds WHERE lower(url) LIKE 'http%' AND NOT (
        lower(url) LIKE '%ico' OR lower(url) LIKE '%jpg' OR lower(url) LIKE '%png'
        OR lower(url) LIKE '%pdf' OR lower(url) LIKE '%bmp' OR lower(url) LIKE '%tiff')),
    deduped AS (SELECT url, min(seq) AS seq, arg_min(priority, seq) AS priority
                FROM fetchable GROUP BY url),
    h0 AS (SELECT *, substr(url, instr(url, '//') + 2) AS d0 FROM deduped),
    h1 AS (SELECT *, CASE WHEN instr(d0, '/') > 0 THEN substr(d0, 1, instr(d0, '/') - 1)
                          WHEN instr(d0, '?') > 0 THEN substr(d0, 1, instr(d0, '?') - 1)
                          ELSE d0 END AS d1 FROM h0),
    h2 AS (SELECT *, CASE WHEN instr(d1, '@') > 0 THEN substr(d1, instr(d1, '@') + 1)
                          ELSE d1 END AS d2 FROM h1),
    hosted AS (SELECT *, CASE WHEN instr(d2, ':') > 0 THEN regexp_replace(d2, ':[^:]*$', '')
                              ELSE d2 END AS host FROM h2),
    allowed AS (SELECT * FROM hosted WHERE NOT (length(host) % 3 = 0
                AND substr(url, instr(url, '/p/') + 3, 1) = '3')),
    ranked AS (SELECT seq,
        row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS host_rank,
        greatest(1, floor({period_ms} / ((length(host) % 4 + 1) * 100))) AS tokens
        FROM allowed),
    scheduled AS (SELECT seq, CAST(floor((host_rank - 1) / tokens) AS BIGINT) AS wave
                  FROM ranked)
    SELECT count(*), sum(seq * 1000003 + wave), sum(wave * (seq % 9973)),
           max(wave) FROM scheduled"""
    n, s1, s2, mw = duckdb.connect().execute(sql).fetchone()
    return {"digest": [int(n), int(s1), int(s2)], "max_wave": int(mw)}


def queries_inputs(name, n_orders, n_docs, n_events):
    """TPC-H-shaped `orders`, `documents`, `embeddings` and `events`
    tables from a fixed generator seed (the workload seed only permutes
    the query order)."""
    d = os.path.join(CACHE, "inputs", "queries", name)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    import pyarrow as pa
    import pyarrow.parquet as pq
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rnd = random.Random(42)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rnd.randrange(1500) for _ in range(n_orders)], pa.int64()),
    }), os.path.join(d, "orders.parquet"))
    vocab = ("a agg batch big column customer data dup fast filter group hash join "
             "key line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
    langs = ["en"] * 44 + ["zh"] * 14 + ["de"] * 14 + ["fr"] * 14 + ["es"] * 14
    texts = []
    for i in range(n_docs):
        if i % 25 == 7:  # exact duplicates
            texts.append(texts[i - 5])
        elif i % 25 == 13:  # near duplicates: one word changed
            w = texts[i - 3].split(" ")
            w[len(w) // 2] = rnd.choice(vocab)
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rnd.choice(vocab) for _ in range(rnd.randint(8, 92))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(langs) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(d, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array([[rnd.gauss(0.0, 0.1) for _ in range(64)] for _ in range(n_docs)],
                              pa.list_(pa.float32())),
        "label": pa.array([rnd.randrange(10) for _ in range(n_docs)], pa.int32()),
    }), os.path.join(d, "embeddings.parquet"))
    t0 = 1704067200_000000  # 2024-01-01 UTC, microseconds
    ts = sorted(t0 + rnd.randrange(30 * 86400_000000) for _ in range(n_events))
    pq.write_table(pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rnd.randrange(150) for _ in range(n_events)], pa.int64()),
        "event_type": [rnd.choice(["click", "signup", "error", "view", "purchase"])
                       for _ in range(n_events)],
        "value": [round(rnd.uniform(0.01, 490.0), 2) for _ in range(n_events)],
        "props": [f'{{"k": {rnd.randrange(100)}}}' for _ in range(n_events)],
    }), os.path.join(d, "events.parquet"))
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def verify_queries(cp, sf):
    """Once per source key and tables: graft.Verify writes the 20
    queries' results on the tables in `sf`, and every query with a DuckDB
    oracle must MATCH it (tools/check_oracle.py). Returns the directory
    of verified results."""
    out = sf + "-verified"
    done = os.path.join(out, "_VERIFIED")
    if os.path.exists(done):
        return out, json.load(open(done))
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp", "verify")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    p = subprocess.run(
        ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.Verify",
         sf, out, ",".join(HEADLINE_QUERIES)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=ROOT,
        env=env, timeout=600)
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("graft.Verify failed")
    oracled = sorted(json.load(open(os.path.join(out, "oracle_sql.json"))))
    status = {}
    for q in oracled:
        c = subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"), out, sf, q],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           cwd=ROOT, timeout=120)
        status[q] = "MATCH" if c.returncode == 0 and c.stdout.strip().endswith("MATCH") \
            else c.stdout[-300:]
    with open(done, "w") as f:
        json.dump(status, f)
    return out, status


# ---------------------------------------------------------------- checks

def check_crawl(run, exp, sched):
    """Returns the list of failed output checks for one crawl run."""
    bad = []
    st = run["states"]
    if run["render_mismatches"] != 0:
        bad.append(f"render_mismatches={run['render_mismatches']}")
    got = dict(done=st.get("done", 0), error=st.get("error", 0), dup=st.get("dup", 0),
               dropped=st.get("dropped_scheme", 0) + st.get("dropped_ext", 0),
               denied=st.get("denied_robots", 0))
    for k, v in got.items():
        if v != exp[k]:
            bad.append(f"{k}={v} expected {exp[k]}")
    if st.get("skipped_seen", 0) != 0:
        bad.append(f"skipped_seen={st['skipped_seen']}")
    if run["sched_digest"] != sched["digest"]:
        bad.append(f"schedule digest {run['sched_digest']} != replica {sched['digest']}")
    if run["seen_count"] != got["done"] + got["error"]:
        bad.append(f"seen={run['seen_count']} attempted={got['done'] + got['error']}")
    if not run["discovered"] == run["gen1_count"] == exp["discovered"]:
        bad.append(f"discovered={run['discovered']} generation 1 rows={run['gen1_count']} "
                   f"expected {exp['discovered']}")
    if run["gen1_digest"] != exp["discovered_digest"]:
        bad.append(f"generation 1 digest {run['gen1_digest']} != replica {exp['discovered_digest']}")
    return bad


def check_runs(runs):
    """Output checks of every crawl run, each against its own input; all
    runs of an input must end in the same frontier, in this invocation
    and against the first digest recorded for the input under this
    source key. Returns one list of failures per failing run."""
    failures = []
    for r in runs:
        d = r["inputs"]
        exp = json.load(open(os.path.join(d, "expected.json")))
        sched = json.load(open(os.path.join(d, "schedule.json")))
        path = os.path.join(d, "frontier_digest")
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(r["frontier_digest"])
        bad = check_crawl(r, exp, sched)
        if r["frontier_digest"] != open(path).read():
            bad.append("frontier digest differs")
        if bad:
            failures.append(bad)
    return failures


# -------------------------------------------------------------- workloads

def run_crawl(cp, seed, seconds, trace, records):
    """One crawl fork; a traced one also probes the queries on the small
    warm-up tables. Returns (result or None, attempted, failed)."""
    specs = [(f"seed-{seed}", seed, CRAWL_ORDERS, CRAWL_REP), WARM_CRAWL]
    if trace:
        specs.append(("scale", 0, CRAWL_ORDERS, SCALE_REP))
    dirs = crawl_inputs(cp, specs)
    inputs, warm = dirs[:2]
    scale = dirs[2] if trace else warm
    probe, status = "-", {}
    if trace:
        tables = queries_inputs("warm", 300, 40, 400)
        verified, status = verify_queries(cp, tables)
        probe = "|".join([tables, verified, ",".join(query_order(seed))])
    rec, res = fork(cp, records, "seed-crawl", seed, "crawl", inputs, seconds, trace,
                    [warm, scale, probe, *CRAWL_FLAGS])
    if res is None:
        return None, 1, 1
    attempted = check_crawl_result(res, rec)
    if "probe" in res:
        attempted += check_queries_result(res["probe"], status, rec)
    return res, attempted, len(rec["checks"])


def check_crawl_result(res, rec):
    """Output checks of a crawl record (every crawl run, the scale pair,
    the per-URL replica); failures go to the fork's record. Returns the
    number of operations checked."""
    runs = res["runs"] + [leg["run"] for leg in res.get("scale_pair", [])]
    rec["checks"] += check_runs(runs)
    attempted = len(runs)
    if "per_url" in res:
        # the stage replica must reproduce fetchOutcome on every sampled
        # row, and its stages must add up to the whole function
        pu = res["per_url"]
        attempted += 1
        ratio = sum(pu[k] for k in PER_URL_STAGES) / pu["fetch_outcome_ns"]
        bad = [f"per-URL replica differs on {pu['mismatches']} rows"] if pu["mismatches"] else []
        if abs(ratio - 1.0) > STAGE_SUM_TOL:
            bad.append(f"per-URL stage sum / fetch_outcome_ns = {ratio:.3f}")
        if bad:
            rec["checks"].append(bad)
    return attempted


PER_URL_STAGES = ("fixtures.netsynth_ns", "parse.decode_ns", "html.links_ns",
                  "crawl.liveness_ns", "parse.render_split_ns", "features.extract_ns",
                  "jobs.fingerprint_ns")


def med(xs):
    return statistics.median(list(xs))


def crawl_metrics(r):
    if r is None:
        return {}, {}
    L = layer_crawl(r, [x for x in r["runs"] if x["in_window"]])
    L["heap_after_gc_mb"] = r["heap_after_gc_mb"]
    e2e = {
        "setup_s": r.get("setup_s"),
        "step_p50_ms": L["commit_gap_p50_ms"],
        "step_p95_ms": L["commit_gap_p95_ms"],
        "throughput_per_s": L["urls_per_s"],
    }
    return e2e, L


def layer_crawl(res, runs):
    """Per-layer numbers read from the manifests and store of the timed
    runs (medians), plus the traced run's listener and per-URL numbers,
    the tracing overhead and the scale pair."""
    urls_s = [x["urls"] / x["wall_s"] for x in runs]
    gaps = [g for x in runs for g in x["commit_gaps_ms"]]
    L = {"urls_per_s": med(urls_s),
         "wave_urls_per_s": med(x["urls"] / ((x["publish_ms"][-1] - x["publish_ms"][0]) / 1000.0)
                                for x in runs),
         "commit_gap_p50_ms": quantile(gaps, 0.5),
         "commit_gap_p95_ms": quantile(gaps, 0.95)}
    for k in ("init_s", "first_wave_s", "final_wave_s", "replan_s"):
        L[f"jobs.{k}"] = med(x[k] for x in runs)
    r0 = runs[0]
    L["jobs.waves"] = r0["waves"]
    L["jobs.generations"] = r0["generations"]
    L["jobs.urls_done"] = r0["done"]
    L["jobs.urls_error"] = r0["error"]
    L["jobs.urls_skipped_seen"] = r0["states"].get("skipped_seen", 0)
    L["jobs.render_mismatches"] = max(x["render_mismatches"] for x in runs)
    L["store.bytes"] = med(x["store_bytes"] for x in runs)
    L["store.scratch_bytes"] = med(x["scratch_bytes"] for x in runs)
    L["store.manifests"] = r0["manifests"]
    L["store.latest_dirs"] = r0["latest_dirs"]
    L["store.squashes"] = r0["squashes"]
    L["store_bytes_per_text_byte"] = med(x["store_bytes"] / x["text_bytes"] for x in runs)
    L["frontier.seen_blob_bytes"] = r0["seen_blob_bytes"]
    L["frontier.discovered"] = r0["discovered"]
    legs = {leg["cores"]: leg["run"] for leg in res.get("scale_pair", [])}
    if 1 in legs and CORES in legs:
        one, four = legs[1], legs[CORES]
        L["scale.leg1_s"], L["scale.leg4_s"] = one["wall_s"], four["wall_s"]
        L["scale_eff_1to4"] = one["wall_s"] / four["wall_s"] / CORES
        L["scale.wave_eff_1to4"] = (one["publish_ms"][-1] - one["publish_ms"][0]) \
            / (four["publish_ms"][-1] - four["publish_ms"][0]) / CORES
    tr = next((x for x in res["runs"] if x["traced"]), None)
    if tr:
        un = runs[0]
        if un is not tr:  # a probe has no untraced repetition
            L["trace.overhead_frac"] = tr["wall_s"] / tr["urls"] / (un["wall_s"] / un["urls"]) - 1.0
        spark_layer(L, tr["spark"], waves=tr["waves"])
        pu = res["per_url"]
        for k in PER_URL_STAGES:
            L[k] = pu[k]
        L["jobs.fetch_outcome_ns"] = pu["fetch_outcome_ns"]
        L["jobs.stage_sum_ratio"] = sum(pu[k] for k in PER_URL_STAGES) / pu["fetch_outcome_ns"]
        L["urls.canonicalize_ns"] = res["canonicalize_ns"]
        fw = tr["spark"].get("first_wave", {})
        if fw.get("task_s"):
            # the seed plan's fetched URLs are all prefetched in the first wave
            fetched = tr["done"] + tr["error"] - tr["gen1_count"]
            L["jobs.outcome_share"] = pu["fetch_outcome_ns"] * fetched / 1e9 / fw["task_s"]
    return L


def spark_layer(L, sp, waves=0):
    for part in ("window", "init", "first_wave", "later_waves"):
        p = sp.get(part)
        if not p:
            continue
        pre = "spark." if part == "window" else f"spark.{part}."
        for k in ("task_s", "busy_frac", "driver_gap_s", "jobs"):
            L[pre + k] = p[k]
    for k in ("tasks", "task_mean_ms", "task_cpu_max_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "input_bytes", "output_bytes", "spill_bytes"):
        L["spark." + k] = sp[k]
    if waves:
        L["spark.jobs_per_wave"] = sp["window"]["jobs"] / waves


def query_order(seed):
    order = HEADLINE_QUERIES[:]
    random.Random(seed).shuffle(order)
    return order


def run_queries(cp, seed, seconds, trace, records):
    """One query fork; a traced one also probes a crawl of the small
    warm-up crawl input. Returns (result or None, attempted, failed,
    oracle status)."""
    sf = queries_inputs("sf", 3000, 200, 4000)
    warm = queries_inputs("warm", 300, 40, 400)
    # the warm-up tables are a traced seed-crawl run's probe: verified
    # here too, so that run rarely has to
    verify_queries(cp, warm)
    verified, status = verify_queries(cp, sf)
    probe = crawl_inputs(cp, [WARM_CRAWL])[0] if trace else "-"
    rec, res = fork(cp, records, "queries", seed, "queries", sf, seconds, trace,
                    [",".join(query_order(seed)), verified, warm, probe, *CRAWL_FLAGS])
    if res is None:
        return None, 1, 1, {"oracles": status}
    attempted = check_queries_result(res, status, rec)
    if "probe" in res:
        attempted += check_crawl_result(res["probe"], rec)
    return res, attempted, len(rec["checks"]), {"oracles": status}


def check_queries_result(res, status, rec):
    """Every query of every pass: oracle MATCH, and its all-column digest
    equal to the verified result's. Failures go to the fork's record.
    Returns the number of queries checked."""
    ref = res["reference_digests"]
    attempted = 0
    for p in res["runs"]:
        for q, v in p["results"].items():
            attempted += 1
            if status.get(q, "MATCH") != "MATCH":
                rec["checks"].append(f"{q}: oracle mismatch")
            elif v["digest"] != ref[q]:
                rec["checks"].append(f"{q}: digest {v['digest']} != verified {ref[q]}")
    return attempted


def queries_metrics(r):
    if r is None:
        return {}, {}

    def total(p):
        return sum(v["s"] for v in p["results"].values())
    timed = [p for p in r["runs"] if p["in_window"]]
    lat = [v["s"] * 1000 for p in timed for v in p["results"].values()]
    tot = med(total(p) for p in timed)
    e2e = {
        "setup_s": r.get("setup_s"),
        "throughput_per_s": len(HEADLINE_QUERIES) / tot,
        "step_p50_ms": quantile(lat, 0.5),
        "step_p95_ms": quantile(lat, 0.95),
    }
    L = {"queries_total_s": tot, "heap_after_gc_mb": r["heap_after_gc_mb"]}
    for q in HEADLINE_QUERIES:
        L[f"query.{q}_s"] = med(p["results"][q]["s"] for p in timed)
    tr = next((p for p in r["runs"] if p["traced"]), None)
    if tr:
        L["trace.overhead_frac"] = total(tr) / total(timed[0]) - 1.0
        spark_layer(L, tr["spark"])
    return e2e, L


# ------------------------------------------------------------------ main

KILL_AT = None
CACHE = None


def main():
    global KILL_AT, CACHE
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--kill-after", type=float, default=None,
                    help="kill every fork after this many seconds (checks that a "
                         "killed fork is recorded and counted as failed)")
    a = ap.parse_args()
    KILL_AT = a.kill_after
    spec = json.load(open(os.path.join(BENCH, "..", "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")
    CACHE = cache_dir()
    cp = classpath()
    records = []
    if a.workload == "queries":
        res, attempted, failed, extra = run_queries(cp, a.seed, a.seconds, a.trace, records)
        e2e, layer = queries_metrics(res)
        probe = crawl_metrics(res and res.get("probe"))[1]
    else:
        res, attempted, failed = run_crawl(cp, a.seed, a.seconds, a.trace, records)
        extra = {}
        e2e, layer = crawl_metrics(res)
        probe = queries_metrics(res and res.get("probe"))[1]
    # a traced run reports the other workload's layers from its probe;
    # where both measure a metric, this workload's own value is kept
    layer = {**probe, **layer}

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layer if a.trace else e2e
    # a metric that could not be measured (a failed fork) is left out,
    # never reported as 0
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in values}
    artifact = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                    forks=records, end_to_end=e2e, per_layer=layer,
                    not_measured=[m["name"] for m in wanted if m["name"] not in values],
                    ops_failed_frac=failed / max(1, attempted), **extra)
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(BUILD, "artifacts", stem + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if a.trace:
        recs = [r for r in (res, res and res.get("probe")) if r]
        spans = [s for r in recs for x in r["runs"] for s in x.get("spans", [])]
        spans += [s for r in recs for s in r.get("per_url", {}).get("spans", [])]
        with open(os.path.join(BUILD, "artifacts", stem + ".spans.json"), "w") as f:
            json.dump(spans, f)
    for r in records:
        log(f"fork {r['run']}: cores={r['cores']} wall_s={r['wall_s']} exit={r['exit']} "
            f"killed_at_cap={r['killed_at_cap']} checks_failed={len(r['checks'])}")
    for k, v in sorted({**e2e, **layer}.items()):
        log(f"{k} = {v:.6g} {units.get(k, '')}")
    log(f"ops_failed_frac = {failed / max(1, attempted):.6g} (attempted {attempted})")
    print(json.dumps(dict(correct=failed == 0, attempted=max(1, attempted), failed=failed,
                          metrics=metrics)))


if __name__ == "__main__":
    main()
