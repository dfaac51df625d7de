#!/usr/bin/env python3
"""Load generator for the ragbench workloads, run as its own process.

It writes every input the program sees into the run directory, from the
seed alone:

  corpus/lines/             the store input: 5,000 documents drawn from the
                            same 30-word vocabulary as the sf0.1 fixture,
                            with 5% near-duplicates ("<doc> dup")
  corpus/documents.parquet  batch_curate: the same docs as (doc_id, text)
  corpus/edges.parquet      batch_curate: a part-supplier graph shaped
                            like lineitem's
  corpus/probes.parquet     batch_curate: ANN probe questions
  corpus/slice/             batch_curate: a 1/50 slice of the above, for
                            warm-up
  corpus/warm/              warm-up questions
  backlog/                  rag_backlog: the questions waiting at restart
  q/, u/                    open loops: questions and knowledge updates,
                            one file per item, written on schedule

Each live file is written under a hidden temp name and renamed into place.
The schedule starts when the program writes `go`; it never waits for the
program. A run has one timed window, or two when traced; window w starts
at `go<w>`, writes into q<w>/ and u<w>/, and ends with `gen<w>.done` (item
counts and the generator's lateness) and `gen<w>.json` (every item with its
due and written times).

  python3 gen.py --workload rag_ingest --seed 1 --seconds 10 --dir <run dir>
"""
import argparse
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

N_DOCS = 5000
N_DUPS = 250
N_PARTS, N_SUPPS, N_LINES = 1000, 50, 15000
SUPP_BASE = 1_000_000
N_PROBES = 32
N_WARM = 16
SLICE = 50

# Open-loop rates (items per second) and the backlog size per workload.
QUESTION_RATE = {"rag_steady": 8.0, "rag_ingest": 8.0}
UPDATE_RATE = {"rag_ingest": 16.0}
BACKLOG = 64


def words(rng, lo, hi):
    return [rng.choice(VOCAB) for _ in range(rng.randint(lo, hi))]


def sentences(rng, n_words):
    """`n_words` vocabulary words cut into sentences of 5-15 words."""
    out, left = [], n_words
    while left > 0:
        n = min(left, rng.randint(5, 15))
        out.append(" ".join(rng.choice(VOCAB) for _ in range(n)))
        left -= n
    return ". ".join(out) + "."


def unique_texts(rng, n, make, taken):
    out = []
    while len(out) < n:
        t = make()
        if t not in taken:
            taken.add(t)
            out.append(t)
    return out


def write_parquet(path, cols):
    """Write under a hidden temp name, then rename into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(pa.table(cols), tmp)
    os.rename(tmp, path)


def write_json(path, obj):
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.rename(tmp, path)


def curate_inputs(d, texts, pairs, probes, source):
    """The batch_curate inputs under `d`: docs, part-supplier edges,
    ANN probes and the BFS source."""
    os.makedirs(os.path.join(d, "lines"), exist_ok=True)
    write_parquet(os.path.join(d, "documents.parquet"), {
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
    })
    write_parquet(os.path.join(d, "edges.parquet"), {
        "u": pa.array([u for u, _ in pairs], pa.int64()),
        "v": pa.array([v for _, v in pairs], pa.int64()),
    })
    write_parquet(os.path.join(d, "probes.parquet"), {
        "probe_id": pa.array(range(len(probes)), pa.int64()),
        "line": probes,
    })
    write_json(os.path.join(d, "info.json"), {"bfs_source": source})


def corpus(rng, root, workload, taken):
    os.makedirs(os.path.join(root, "corpus", "lines"))
    os.makedirs(os.path.join(root, "corpus", "warm"))
    texts = unique_texts(rng, N_DOCS - N_DUPS,
                         lambda: sentences(rng, rng.randint(10, 100)), taken)
    for i in rng.sample(range(len(texts)), N_DUPS):
        texts.append(texts[i] + " dup")
    rng.shuffle(texts)
    taken.update(texts)
    write_parquet(os.path.join(root, "corpus", "lines", "docs.parquet"),
                  {"line": texts})
    warm = unique_texts(rng, N_WARM, lambda: " ".join(words(rng, 6, 12)),
                        taken)
    for i, t in enumerate(warm):
        write_parquet(os.path.join(root, "corpus", "warm",
                                   "w-%06d.parquet" % i), {"line": [t]})
    info = {"docs": N_DOCS}
    if workload == "batch_curate":
        pairs = sorted({(rng.randint(1, N_PARTS),
                         SUPP_BASE + rng.randint(1, N_SUPPS))
                        for _ in range(N_LINES)})
        probes = unique_texts(rng, N_PROBES,
                              lambda: " ".join(words(rng, 6, 12)), taken)
        source = rng.randint(1, N_PARTS)
        curate_inputs(os.path.join(root, "corpus"), texts, pairs, probes,
                      source)
        # a small slice of the same inputs for the warm-up pass
        n = N_DOCS // SLICE
        curate_inputs(os.path.join(root, "corpus", "slice"), texts[:n],
                      [e for e in pairs if e[0] <= N_PARTS // SLICE],
                      probes[:4], 1)
        write_parquet(os.path.join(root, "corpus", "slice", "lines",
                                   "docs.parquet"), {"line": texts[:n]})
        info["bfs_source"] = source
        info["edges"] = len(pairs)
    return info


def schedule(rng, workload, seconds, taken):
    """(offset_s, kind, text) for every open-loop item, in due order."""
    items = []
    for kind, rates, make in (
            ("q", QUESTION_RATE, lambda: " ".join(words(rng, 6, 12))),
            ("u", UPDATE_RATE, lambda: sentences(rng, rng.randint(10, 40)))):
        rate = rates.get(workload)
        if not rate:
            continue
        n = int(seconds * rate)
        for i, t in enumerate(unique_texts(rng, n, make, taken)):
            items.append(((i + 0.5) / rate, kind, t))
    items.sort(key=lambda x: x[0])
    return items


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--windows", type=int, default=1)
    a = ap.parse_args()
    rng = random.Random(a.seed)
    taken = set()
    root = a.dir
    info = corpus(rng, root, a.workload, taken)
    backlog = []
    if a.workload == "rag_backlog":
        os.makedirs(os.path.join(root, "backlog"))
        qs = unique_texts(rng, BACKLOG, lambda: " ".join(words(rng, 6, 12)),
                          taken)
        for i, t in enumerate(qs):
            name = "q-%06d.parquet" % i
            write_parquet(os.path.join(root, "backlog", name), {"line": [t]})
            backlog.append({"kind": "q", "file": name, "text": t})
    write_json(os.path.join(root, "corpus.ready"), info)
    for w in range(a.windows):
        run_window(rng, root, a.workload, a.seconds, taken, w, list(backlog))


def run_window(rng, root, workload, seconds, taken, w, manifest):
    """Write window `w`'s schedule into q<w>/ and u<w>/ once the program
    signals go<w>, then record it in gen<w>.json and gen<w>.done."""
    items = schedule(rng, workload, seconds, taken)
    for kind in ("q", "u"):
        os.makedirs(os.path.join(root, "%s%d" % (kind, w)))
    go = os.path.join(root, "go%d" % w)
    deadline = time.time() + 170
    while not os.path.exists(go):
        if time.time() > deadline:
            raise SystemExit("gen: no go signal")
        time.sleep(0.002)
    with open(go) as f:
        start_ms = json.load(f)["start_ms"]

    late = []
    for i, (off, kind, text) in enumerate(items):
        due_ms = start_ms + off * 1000.0
        wait = due_ms / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        name = "%s-%06d.parquet" % (kind, i)
        write_parquet(os.path.join(root, "%s%d" % (kind, w), name),
                      {"line": [text]})
        written_ms = time.time() * 1000.0
        late.append(written_ms - due_ms)
        manifest.append({"kind": kind, "file": name, "text": text,
                         "due_ms": due_ms, "written_ms": written_ms})
    with open(os.path.join(root, "gen%d.json" % w), "w") as f:
        json.dump(manifest, f)
    write_json(os.path.join(root, "gen%d.done" % w), {
        "questions": sum(1 for m in manifest
                         if m["kind"] == "q" and "due_ms" in m),
        "updates": sum(1 for m in manifest if m["kind"] == "u"),
        "late_p99_ms": percentile(late, 0.99),
    })


if __name__ == "__main__":
    main()
