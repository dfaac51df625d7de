#!/usr/bin/env python3
"""ragbench: end-to-end benchmark of the streaming RAG chain
(graft.streaming.Streams) and the graft.api batch kernels.

    python3 ragbench/run.py --workload rag_ingest --seed 1 --seconds 8 --trace 0

Run it from the repository root. The first run builds the program from
source with sbt (offline) into ragbench/target; later runs reuse the build
while the sources are unchanged. Each run starts the load generator
(gen.py) and one JVM (ragbench.Main) on local[<cpus>], measures for
--seconds, checks the program's outputs, prints one human-readable line
per metric and, as the last line, one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 adds a second timed
window after the untraced one, with spans around every layer call, and
reports the per-layer metrics, each layer's self time and the tracing
overhead. README.md defines every metric and check.
The exit code is 1 when any output is wrong, 2 when the benchmark cannot
run at all.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")

WORKLOADS = ("rag_steady", "rag_backlog", "rag_ingest", "batch_curate")
RAG_LAYERS = ("source", "store", "embed", "retrieve", "answer", "sink")
LAYERS = RAG_LAYERS + ("ingest", "compact", "dedup", "ann", "text", "graph")
K = 10
DIM = 64
SAMPLE = 24          # answered questions checked by brute force per run
IVF_RECALL_FLOOR = 0.5
# batch_curate: kernel calls per layer, and parameters as in Main.scala
CURATE_CALLS = {"dedup": ("pairs", "cluster"),
                "text": ("chunk", "quality"),
                "ann": ("ivf_build", "ivf_probe", "exact"),
                "graph": ("pagerank", "bfs")}
GRAPH_ITERS = 3
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 160


def die(msg):
    print("ragbench: " + msg, file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build --

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                          "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return (jvm opts, classpath)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found; "
            "run from the repository root")
    digest = source_digest()
    launch = os.path.join(TARGET, "launch.txt")
    stamp = os.path.join(TARGET, "launch.stamp")
    fresh = (os.path.exists(launch) and os.path.exists(stamp)
             and open(stamp).read() == digest)
    if not fresh:
        os.makedirs(TARGET, exist_ok=True)
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=" ".join(opts))
        with open(os.path.join(TARGET, "build.log"), "w") as log:
            p = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
            try:
                rc = p.wait(timeout=850)
            except subprocess.TimeoutExpired:
                stop(p)
                die("build timed out")
        if rc != 0 or not os.path.exists(launch):
            die("build failed; see ragbench/target/build.log")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(launch) as f:
        opts, cp = f.read().split("\n")[:2]
    return opts.split("\t"), cp


# ------------------------------------------------------------------ run --

def stop(p):
    """Kill a child's whole process group and wait for it."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()


def cpus():
    return len(os.sched_getaffinity(0))


def run_once(launch, workload, seed, seconds, trace):
    """One generator + one JVM on a fresh run directory; returns the raw
    records both wrote, one per timed window (two when tracing)."""
    wd = os.path.join(TARGET, "runs", "%s-%d-%d" % (
        workload, seed, os.getpid()))
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(os.path.join(wd, "tmp"))
    opts, cp = launch
    log = open(os.path.join(wd, "run.log"), "w")
    procs = []
    try:
        procs.append(subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--dir", wd,
             "--windows", str(1 + trace)],
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True))
        procs.append(subprocess.Popen(
            ["java"] + opts + ["-Xmx" + JVM_HEAP,
                               "-Djava.io.tmpdir=" + os.path.join(wd, "tmp"),
                               "-cp", cp, "ragbench.Main",
                               "--workload", workload, "--dir", wd,
                               "--seconds", str(seconds),
                               "--trace", str(trace), "--cpus", str(cpus())],
            cwd=wd, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True))
        # wait for both; the first to fail stops the other
        deadline = time.time() + RUN_TIMEOUT_S
        while any(p.poll() is None for p in procs):
            bad = [p for p in procs if p.poll() not in (None, 0)]
            if bad or time.time() > deadline:
                for p in procs:
                    stop(p)
                log.close()
                tail = open(os.path.join(wd, "run.log")).read()[-3000:]
                die("%s %s\n%s" % (
                    bad[0].args[0] if bad else "run",
                    "exited with %s" % bad[0].returncode if bad
                    else "timed out", tail))
            time.sleep(0.05)
        bad = [p for p in procs if p.returncode != 0]
        if bad:
            log.close()
            tail = open(os.path.join(wd, "run.log")).read()[-3000:]
            die("%s exited with %s\n%s" % (bad[0].args[0],
                                            bad[0].returncode, tail))
    finally:
        for p in procs:
            stop(p)
        log.close()
    def load(name):
        with open(os.path.join(wd, name)) as f:
            return json.load(f)
    jvm = load("jvm.json")
    return {"dir": wd, "jvm": jvm, "corpus.ready": load("corpus.ready"),
            "windows": [
                dict(w, items=load("gen%d.json" % i),
                     gen=load("gen%d.done" % i))
                for i, w in enumerate(jvm["windows"])]}


# ------------------------------------------------------- reference math --

MASK = (1 << 64) - 1


def fnv1a64(s, seed):
    h = 0xcbf29ce484222325 ^ (seed & MASK)
    for ch in s:
        c = ord(ch)
        h ^= c & 0xff
        h = (h * 0x100000001b3) & MASK
        h ^= (c >> 8) & 0xff
        h = (h * 0x100000001b3) & MASK
    return h - (1 << 64) if h >> 63 else h


def embed(text, dim=DIM, seed=42):
    """Independent re-implementation of feature_hash_embed."""
    import numpy as np
    acc = [0.0] * dim
    word = []
    for ch in text.lower() + " ":
        if ch.isalnum():
            word.append(ch)
        elif word:
            h = fnv1a64("".join(word), seed)
            acc[((h % dim) + dim) % dim] += 1.0 if h >= 0 else -1.0
            word = []
    n = sum(a * a for a in acc) ** 0.5
    v = [a / n if n > 0 else 0.0 for a in acc]
    return np.array(v, dtype=np.float32)


def cosines(mat, q):
    """Cosine of every row of `mat` (float32) with `q`, accumulated in the
    same order as the program's kernel."""
    import numpy as np
    a = mat.astype(np.float64)
    b = q.astype(np.float64)
    dot = np.zeros(len(a))
    na = np.zeros(len(a))
    nb = 0.0
    for i in range(a.shape[1]):
        dot += a[:, i] * b[i]
        na += a[:, i] * a[:, i]
        nb += b[i] * b[i]
    den = np.sqrt(na) * np.sqrt(nb)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(den == 0.0, 0.0, dot / den)


def read_store(wd):
    """(texts, vec_ids, float32 matrix) of the store's live generation."""
    import numpy as np
    import pyarrow.parquet as pq
    root = os.path.join(wd, "store")
    cur = os.path.join(root, "CURRENT")
    data = os.path.join(root, open(cur).read().strip()) \
        if os.path.exists(cur) else root
    files = sorted(f for f in glob.glob(os.path.join(data, "*.parquet")))
    texts, ids, vecs = [], [], []
    for f in files:
        t = pq.read_table(f, columns=["vec_id", "text", "embedding"])
        texts += t.column("text").to_pylist()
        ids += t.column("vec_id").to_pylist()
        vecs += t.column("embedding").to_pylist()
    return texts, ids, np.array(vecs, dtype=np.float32).reshape(-1, DIM)


def read_answers(d):
    import pyarrow.parquet as pq
    rows = []
    for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        t = pq.read_table(f, columns=["question", "context", "answer"])
        for r in t.to_pylist():
            r["file"] = os.path.basename(f)
            rows.append(r)
    return rows


def valid_topk(served, scores, eps=1e-9):
    """`served` (texts, best first) is a correct top-K for `scores`
    (text -> cosine over every store row the batch could see, base rows
    first): scores agree, nothing better was skipped, order holds. Ties
    within eps may fall either way."""
    if any(t not in scores for t in served):
        return False
    eligible = sorted((s for s in scores.values() if s >= 0.0),
                      reverse=True)
    if len(served) != min(K, len(eligible)):
        return False
    got = [scores[t] for t in served]
    if any(got[i] < got[i + 1] - eps for i in range(len(got) - 1)):
        return False
    kth = got[-1] if got else 0.0
    if any(s < -eps for s in got):
        return False
    chosen = set(served)
    return all(t in chosen for t, s in scores.items() if s > kth + eps)


def check_answers(rows, store, base_texts, updates, seed):
    """Brute-force check of a seeded sample of answers against every base
    row of the store. Rows ingested during the run may or may not have
    been visible to a batch, so they are scored only where served.
    Returns the number of wrong answers in the sample."""
    texts, _, mat = store
    vec = {t: mat[i] for i, t in enumerate(texts)}
    base = [i for i, t in enumerate(texts) if t in base_texts]
    btexts = [texts[i] for i in base]
    bmat = mat[base]
    rng = random.Random(seed * 7919 + 1)
    wrong = 0
    for r in rng.sample(rows, min(SAMPLE, len(rows))):
        q = embed(r["question"])
        scores = dict(zip(btexts, map(float, cosines(bmat, q))))
        served = r["context"].split("\n\n") if r["context"] else []
        for t in served:
            if t not in scores and (t in vec or t in updates):
                v = vec[t] if t in vec else embed(t)
                scores[t] = float(cosines(v.reshape(1, -1), q)[0])
        ok = valid_topk(served, scores)
        if ok:
            top = max(scores[t] for t in served)
            ok = any(abs(scores[t] - top) <= 1e-9 and
                     r["answer"] == "[extractive] " + t.split(".", 1)[0]
                     for t in served)
        wrong += 0 if ok else 1
    return wrong


# ------------------------------------------------------ graph oracles --

def components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def adjacency(edges):
    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    return adj


def pagerank(adj, iters):
    n = len(adj)
    init = 1000000000 // n
    base = (15 * init) // 100
    pr = {u: init for u in adj}
    for _ in range(iters):
        acc = {}
        for u, p in pr.items():
            c = p // len(adj[u])
            for v in adj[u]:
                acc[v] = acc.get(v, 0) + c
        pr = {v: base + (85 * s) // 100 for v, s in acc.items()}
    return pr


def bfs(adj, src, max_hops=30):
    dist = {src: 0}
    front = [src]
    h = 0
    while front and h < max_hops:
        h += 1
        nxt = []
        for u in front:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = h
                    nxt.append(v)
        front = nxt
    return dist


def check_curate(rec, w):
    """Oracle checks of window `w`'s first pass; returns
    ({check: ok}, recall, pair count, cluster count)."""
    import pyarrow.parquet as pq
    wd = rec["dir"]
    passes = rec["windows"][w]["passes"]
    res = passes[0]["results"]
    docs = pq.read_table(os.path.join(wd, "corpus", "documents.parquet"))
    text = dict(zip(docs.column("doc_id").to_pylist(),
                    docs.column("text").to_pylist()))
    edges = pq.read_table(os.path.join(wd, "corpus", "edges.parquet"))
    adj = adjacency(zip(edges.column("u").to_pylist(),
                        edges.column("v").to_pylist()))
    ok = {}

    def grams(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    pairs = [tuple(p) for p in res["pairs"]]
    ok["dedup.pairs_verified"] = all(
        a < b and len(grams(text[a]) & grams(text[b])) >=
        0.7 * len(grams(text[a]) | grams(text[b])) - 1e-9 for a, b in pairs)
    by_text = {t: d for d, t in text.items()}
    planted = {tuple(sorted((d, by_text[t + " dup"]))) for d, t in text.items()
               if t + " dup" in by_text}
    ok["dedup.planted_found"] = (
        len(planted & set(pairs)) >= 0.9 * len(planted))
    cc = components(pairs)
    ok["dedup.clusters"] = sorted(map(tuple, res["clusters"])) == \
        sorted(cc.items())
    ok["graph.pagerank"] = dict(map(tuple, res["pagerank"])) == \
        pagerank(adj, GRAPH_ITERS)
    ok["graph.bfs"] = dict(map(tuple, res["bfs"])) == \
        bfs(adj, rec["corpus.ready"]["bfs_source"])
    n_docs = len(text)
    ok["text.chunks"] = (res["chunks"][1] == n_docs and
                         all(p["results"]["chunks"] == res["chunks"]
                             for p in passes if "results" in p))
    ok["text.quality"] = res["quality"][0] == n_docs

    texts, ids, mat = read_store(wd)
    probes = pq.read_table(os.path.join(wd, "corpus", "probes.parquet"))
    exact = {}
    for pid, line in zip(probes.column("probe_id").to_pylist(),
                         probes.column("line").to_pylist()):
        cos = cosines(mat, embed(line))
        exact[pid] = {ids[i]: float(cos[i]) for i in range(len(ids))}
    served = {}
    for kind in ("exact", "ivf"):
        served[kind] = {}
        for pid, i in res[kind]:
            served[kind].setdefault(pid, []).append(i)
    ok["ann.exact"] = all(
        len(served["exact"].get(pid, [])) == K and
        min(sc[i] for i in served["exact"][pid]) >=
        sorted(sc.values(), reverse=True)[K - 1] - 1e-9
        for pid, sc in exact.items())
    hits = sum(len(set(served["ivf"].get(pid, [])) &
                   set(served["exact"].get(pid, []))) for pid in exact)
    recall = hits / float(K * len(exact))
    ok["ann.ivf_recall"] = recall >= IVF_RECALL_FLOOR
    return ok, recall, len(pairs), len(set(cc.values()))


# -------------------------------------------------------------- metrics --

def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, min(len(xs) - 1, int(round(q * len(xs) + 0.5)) - 1))]


def tail_pct(n):
    """Highest of p99/p95/p90/p50 with at least ten samples beyond it."""
    for q in (0.99, 0.95, 0.90, 0.50):
        if n * (1 - q) >= 10:
            return q
    return 0.50


def evaluate(rec, workload, seed, w):
    """Latency samples, result counts and checks of timed window `w`."""
    import pyarrow.parquet as pq
    wd, win = rec["dir"], rec["windows"][w]
    items = win["items"]
    ev = {"checks": {}, "fresh": []}
    if workload in ("rag_steady", "rag_ingest"):
        due = {m["text"]: m["due_ms"] for m in items if m["kind"] == "q"}
        commit = {f: b["commit_ms"] for b in win["batches"]
                  for f in b["files"]}
        rows = read_answers(os.path.join(wd, "out%d" % w))
        seen = {}
        for r in rows:
            seen[r["question"]] = seen.get(r["question"], 0) + 1
        ev["samples"] = [(commit[r["file"]] - due[r["question"]]) / 1000.0
                         for r in rows if r["question"] in due]
        missing = sum(1 for q in due if q not in seen)
        extra = sum(n - 1 for n in seen.values()) + \
            sum(1 for q in seen if q not in due)
        ev["results"] = len(due)
        ev["failed"] = missing + extra
        ev["answers"] = rows
    elif workload == "rag_backlog":
        qs = {m["text"] for m in items if m["kind"] == "q"}
        ev["samples"], ev["failed"], ev["answers"] = [], 0, None
        for rep in win["reps"]:
            rows = read_answers(os.path.join(wd, rep["out"]))
            got = [r["question"] for r in rows]
            ev["failed"] += len(qs - set(got)) + len(set(got) - qs) + \
                len(got) - len(set(got))
            ev["samples"] += [(rep["commit_ms"] - rep["start_ms"]) / 1000.0
                              ] * len(rows)
            ev["answers"] = ev["answers"] or rows
        ev["results"] = len(qs) * len(win["reps"])
    else:
        ev["samples"] = [(p["end_ms"] - p["start_ms"]) / 1000.0
                         for p in win["passes"]]
        ev["fresh"] = ev["samples"]
        ev["results"] = len(ev["samples"])
        ok, ev["recall"], npairs, nclus = check_curate(rec, w)
        ev["checks"] = ok
        ev["dedup_counts"] = (npairs, nclus)
        ev["failed"] = sum(1 for v in ok.values() if not v)
    ev["attempted"] = ev["results"] if workload != "batch_curate" \
        else len(ev["checks"])
    ev["inputs"] = ev["results"]
    if workload == "rag_ingest":
        due = {m["file"]: m["due_ms"] for m in items if m["kind"] == "u"}
        ev["fresh"] = [(ing["commit_ms"] - due[f]) / 1000.0
                       for ing in win["ingests"] for f in ing["files"]]
        bad = win["updates_not_once"] + (len(due) - win["updates_checked"])
        ev["checks"]["ingest.vec_id_once"] = bad == 0
        ev["attempted"] += len(due)
        ev["failed"] += bad
        ev["inputs"] += len(due)
    if workload != "batch_curate":
        base = set(pq.read_table(
            os.path.join(wd, "corpus", "lines", "docs.parquet"))
            .column("line").to_pylist())
        updates = {m["text"] for m in items if m["kind"] == "u"}
        wrong = check_answers(ev["answers"], read_store(wd), base, updates,
                              seed + w)
        ev["checks"]["answers.sample_top10"] = wrong == 0
        ev["attempted"] += min(SAMPLE, len(ev["answers"]))
        ev["failed"] += wrong
    return ev


def end_to_end(win, ev, setup_s):
    """The end-to-end metrics of one window: name -> (value, unit)."""
    cpu = sum(v["exec_cpu_s"] for v in win["layers"].values())
    m = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(ev["samples"]), "s"),
        "exec_cpu_ms": (1000.0 * cpu / max(1, ev["inputs"]), "ms"),
        "jvm_cpu_ms": (1000.0 * win["jvm_cpu_s"] / max(1, ev["inputs"]), "ms"),
        "peak_rss_mb": (win["peak_rss_mb"], "MB"),
    }
    if ev["fresh"]:
        m["fresh_p50_s"] = (statistics.median(ev["fresh"]), "s")
    return m


def self_times(spans):
    """Per span name: (total duration ms, self ms, calls). Self time is the
    span minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        dur = s[5] - s[4]
        cover, end = 0.0, s[4]
        for c in sorted(kids.get(s[0], []), key=lambda c: c[4]):
            lo, hi = max(c[4], end), min(c[5], s[5])
            if hi > lo:
                cover += hi - lo
                end = hi
        t = out.setdefault(s[2], [0.0, 0.0, 0])
        t[0] += dur
        t[1] += dur - cover
        t[2] += 1
    return out


def per_layer(rec, evs, workload):
    """Every per-layer metric as name -> (value, unit); zero for a layer
    the workload does not exercise. Spans, self times and the listener's
    per-layer counters come from the traced window (1), where each layer
    is a call of its own; trigger, layout, ingest and kernel-call figures
    come from the untraced window (0), which tracing does not slow."""
    tw = rec["windows"][1]
    win, ev = rec["windows"][0], evs[0]
    mean = lambda xs: statistics.mean(xs) if xs else 0.0
    st = self_times(tw.get("spans", []))
    span_ms = lambda n: st[n][0] / st[n][2] if n in st else 0.0
    m = {}

    layers = dict(tw["layers"])
    plan = layers.pop("answer_plan", {})
    layers["answer"] = {k: layers.get("answer", {}).get(k, 0) + v
                        for k, v in plan.items()}
    for l in LAYERS:
        for k, unit in (("exec_cpu_s", "s"), ("jobs", "count"),
                        ("tasks", "count"), ("shuffle_bytes", "bytes")):
            m["%s.%s" % (l, k)] = (float(layers.get(l, {}).get(k, 0)), unit)

    # source: the answer query's triggers that carried questions (progress
    # row counts double-count a batch read more than once, so questions
    # per trigger come from the answers each batch committed)
    qid = win.get("answer_query")
    prog = [p for p in win["progress"] if p["rows"] > 0 and
            (p["query"] == qid or workload == "rag_backlog")]
    dur = lambda p, *ks: sum(p["durations"].get(k, 0) for k in ks)
    m["source.bookkeeping_ms"] = (mean([dur(p, "latestOffset", "walCommit",
                                            "commitOffsets") for p in prog]),
                                  "ms")
    m["source.planning_ms"] = (mean([dur(p, "queryPlanning") for p in prog]),
                               "ms")
    bfile = {f: b["id"] for b in win["batches"] for f in b["files"]}
    per_batch = {}
    for r in ev.get("answers") or []:
        if r["file"] in bfile:
            per_batch[bfile[r["file"]]] = per_batch.get(bfile[r["file"]],
                                                        0) + 1
    m["source.triggers"] = (float(len(per_batch)), "count")
    m["source.questions_per_trigger"] = (mean(list(per_batch.values())),
                                         "count")
    due = {i["text"]: i.get("due_ms") for i in win["items"]
           if i["kind"] == "q"}
    trig = {p["batch"]: p["trigger_ms"] for p in prog}
    m["source.queue_wait_s"] = (mean([
        (trig[bfile[r["file"]]] - due[r["question"]]) / 1000.0
        for r in ev.get("answers") or []
        if due.get(r["question"]) and bfile.get(r["file"]) in trig]), "s")

    b = win["batches"]
    m["store.open_ms"] = (span_ms("store"), "ms")
    m["store.open_jobs"] = (m["store.jobs"][0] / max(1, len(tw["batches"])),
                            "count")
    m["store.files"] = (mean([x["store_files"] for x in b]), "count")
    m["store.bytes"] = (mean([x["store_bytes"] for x in b]), "bytes")
    m["store.scan_tasks"] = (mean([x["scan_tasks"] for x in tw["batches"]]),
                             "count")
    m["embed.ms"] = (span_ms("embed"), "ms")
    m["retrieve.ms"] = (span_ms("retrieve"), "ms")
    # per call; answerBatch runs its own retrieval inside, which the
    # benchmark's spans cannot split off
    m["answer.ms"] = (span_ms("answer"), "ms")
    # the real pipeline's append, beyond computing the same answers
    m["sink.write_ms"] = (max(0.0, span_ms("sink") - span_ms("answer")), "ms")
    m["sink.files"] = (mean([len(x["files"]) for x in b]), "count")
    ing = win.get("ingests", [])
    base_rows = rec["corpus.ready"]["docs"]
    rows_at = lambda t: base_rows + sum(len(i["files"]) for i in ing
                                        if i["commit_ms"] <= t)
    by_id = {x["id"]: x for x in b}
    m["retrieve.pairs_scored"] = (float(sum(
        n * rows_at(by_id[i]["start_ms"]) for i, n in per_batch.items())),
        "count")
    m["retrieve.spill_bytes"] = (
        float(layers.get("retrieve", {}).get("spill_bytes", 0)), "bytes")

    other = [p for p in win["progress"] if p["query"] != qid]
    starts = []
    for i in ing:
        first = [p["trigger_ms"] for p in other
                 if i["start_ms"] <= p["trigger_ms"] <= i["commit_ms"]]
        if first:
            starts.append(min(first) - i["start_ms"])
    m["ingest.call_ms"] = (mean([i["commit_ms"] - i["start_ms"]
                                 for i in ing]), "ms")
    m["ingest.query_start_ms"] = (mean(starts), "ms")
    m["ingest.rows"] = (float(sum(len(i["files"]) for i in ing)), "count")
    m["ingest.files"] = (float(sum(i["store_files_added"] for i in ing)),
                         "count")
    comp = win.get("compactions", [])
    m["compact.call_ms"] = (mean([c["end_ms"] - c["start_ms"] for c in comp]),
                            "ms")
    m["compact.bytes_rewritten"] = (float(sum(c["bytes_rewritten"]
                                              for c in comp)), "bytes")
    m["compact.files_after"] = (float(comp[-1]["files_after"]) if comp
                                else 0.0, "count")
    m["compact.answer_stall_s"] = (sum(
        max(0, min(c["end_ms"], x["commit_ms"]) -
            max(c["start_ms"], x["start_ms"]))
        for c in comp for x in b) / 1000.0, "s")

    passes = win.get("passes", [])
    for l, ks in CURATE_CALLS.items():
        for k in ks:
            m["%s.%s_ms" % (l, k)] = (mean([p["times_ms"][k]
                                            for p in passes]), "ms")
    npairs, nclus = ev.get("dedup_counts", (0, 0))
    m["dedup.pairs"] = (float(npairs), "count")
    m["dedup.clusters"] = (float(nclus), "count")
    m["ann.ivf_recall_at_10"] = (ev.get("recall", 0.0), "ratio")
    for l in ("dedup", "ann", "graph"):
        m["%s.leaked_rdds" % l] = (mean([p["leaked_rdds"].get(l, 0)
                                         for p in passes]), "count")

    # self time: span minus child spans; the source's is the trigger time
    # outside addBatch (offsets, planning, WAL and commit bookkeeping)
    selfs = {l: st.get(l, (0.0, 0.0, 0))[1] for l in LAYERS}
    selfs["answer"] += st.get("answer_plan", (0.0, 0.0, 0))[1]
    tq = tw.get("answer_query")
    selfs["source"] += float(sum(
        dur(p, "triggerExecution") - dur(p, "addBatch")
        for p in tw["progress"] if p["rows"] > 0 and
        (p["query"] == tq or workload == "rag_backlog")))
    wall = max(1.0, tw["end_ms"] - tw["start_ms"])
    cpu = max(1e-9, sum(v["exec_cpu_s"] for v in tw["layers"].values()))
    for l in LAYERS:
        m["%s.self_ms" % l] = (selfs[l], "ms")
        m["%s.self_pct" % l] = (100.0 * selfs[l] / wall, "%")
        m["%s.exec_cpu_pct" % l] = (100.0 * m["%s.exec_cpu_s" % l][0] / cpu,
                                    "%")
    m["gen.late_p99_ms"] = (tw["gen"]["late_p99_ms"], "ms")
    m["host.steal_s"] = (tw["host_steal_s"], "s")
    m["host.iowait_s"] = (tw["host_iowait_s"], "s")
    m["host.cpus"] = (float(rec["jvm"]["cpus"]), "count")
    return m


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def show(name, value, unit="", note=""):
    print("%-34s %16.6f %s%s" % (name, value, unit, note))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die("unknown workload %r (one of %s)" % (a.workload,
                                                 ", ".join(WORKLOADS)))
    if a.seconds < 1:
        die("--seconds must be at least 1")
    spec = load_spec()
    launch = build()

    rec = run_once(launch, a.workload, a.seed, a.seconds, a.trace)
    evs = [evaluate(rec, a.workload, a.seed, w)
           for w in range(len(rec["windows"]))]
    setup_s = rec["jvm"]["setup_s"]
    e2e = [end_to_end(win, ev, setup_s)
           for win, ev in zip(rec["windows"], evs)]
    attempted = sum(ev["attempted"] for ev in evs)
    failed = sum(ev["failed"] for ev in evs)

    win, ev = rec["windows"][0], evs[0]
    bounded = {x["name"] for x in spec["end_to_end"]}
    for k, (v, u) in sorted(e2e[0].items()):
        show(k, v, u, "" if k in bounded else " (not bounded)")
    for name, xs in (("latency", ev["samples"]), ("fresh", ev["fresh"])):
        if xs:
            q = tail_pct(len(xs))
            show("%s_tail_s" % name, pct(xs, q), "s",
                 " (p%d, n=%d)" % (int(q * 100), len(xs)))
    show("setup_wall_s", rec["jvm"]["setup_wall_s"], "s")
    show("failed_frac", failed / float(max(1, attempted)))
    show("host.steal_s", win["host_steal_s"], "s")
    show("host.iowait_s", win["host_iowait_s"], "s")
    show("host.local_width", rec["jvm"]["cpus"], "cores")
    show("gen.late_p99_ms", win["gen"]["late_p99_ms"], "ms")
    for e in evs:
        for k, v in sorted(e["checks"].items()):
            print("%-34s %16s" % ("check." + k, "ok" if v else "WRONG"))

    if a.trace:
        layer = per_layer(rec, evs, a.workload)
        for k, (v, u) in sorted(layer.items()):
            show(k, v, u)
        for k in ("latency_p50_s", "exec_cpu_ms"):
            base, traced = e2e[0][k][0], e2e[1][k][0]
            show("trace.overhead." + k, 100.0 * (traced - base) / base, "%",
                 " (traced %.6f, untraced %.6f)" % (traced, base))
        metrics = {x["name"]: layer[x["name"]] for x in spec["per_layer"]}
    else:
        # rag_steady and rag_backlog have no updates, so no fresh_p50_s
        metrics = {x["name"]: e2e[0][x["name"]] for x in spec["end_to_end"]
                   if x["name"] in e2e[0]}
    shutil.rmtree(rec["dir"], ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
