"""Seeded input generator for the pipeline benchmark.

    python3 pipebench/gen.py --workload <name> --seed <n> --scale <x> --out <dir>

Writes the workload's input files under <dir> and prints one JSON line
with the input digest. The same (workload, seed, scale) always yields the
same files; the digest is a SHA-256 over every file's name and bytes.

Shapes follow the program's CLI inputs:
  cluster-ksearch   container-metrics CSV (customer_id, application_id,
                    cpu_percent, ram_usage, ram_limit) plus small
                    arriving-day CSVs; planted blob counts in truth.json.
  corpus-curate     documents parquet (doc_id, text, lang, source,
                    n_chars) with planted exact copies, near copies and
                    Gopher-gate rejects, plus arriving batches and probe
                    sets; planted copy ids in truth.json.
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("cluster-ksearch", "corpus-curate")

# Base sizes at scale 1; --scale multiplies the corpus sizes only, so the
# per-call batch shapes (arriving days and batches, probe sets) stay fixed.
CLUSTER_ROWS = 5_000
SEGMENT_FLOOR = 30  # points; enough for the k-search to see every blob
CLUSTER_DAY_ROWS = 1_500
CLUSTER_DAYS = 3
DOCS = 1_000
DOC_BATCHES = 3
DOC_PROBES = 10


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _zipf_sizes(total, n, s, floor=0):
    """`n` sizes summing to `total`: `floor` each, the rest Zipf by rank."""
    w = 1.0 / np.arange(1, n + 1) ** s
    sizes = floor + np.floor(w / w.sum() * (total - floor * n)).astype(np.int64)
    sizes[0] += total - sizes.sum()
    return sizes


# ---------------------------------------------------------------- cluster

CUSTOMERS = 10
APPS = 8
LIMITS = np.array([2.0, 4.0, 8.0, 16.0]) * 2 ** 30
# Well-separated blob centres on the scaled (cpu %, ram % of limit) plane.
CENTRE_GRID = np.array([(x, y) for x in (12, 37, 62, 87)
                        for y in (12, 37, 62, 87)], dtype=np.float64)
BLOB_SD = 2.5


def _segments(rng):
    segs = []
    for c in range(CUSTOMERS):
        for a in range(APPS):
            blobs = 2 + (c * APPS + a) % 5
            centres = CENTRE_GRID[rng.choice(len(CENTRE_GRID), blobs,
                                             replace=False)]
            limit = float(LIMITS[rng.integers(len(LIMITS))])
            segs.append((f"cust{c:02d}", f"app{a:02d}", blobs, centres,
                         limit))
    return segs


def _metric_rows(rng, segs, sizes, t0):
    cols = {k: [] for k in ("time", "customer_id", "application_id",
                            "cpu_percent", "ram_usage", "ram_limit")}
    for (cust, app, blobs, centres, limit), n in zip(segs, sizes):
        if n == 0:
            continue
        which = rng.integers(blobs, size=n)
        pts = centres[which] + rng.normal(0.0, BLOB_SD, size=(n, 2))
        pts = np.clip(pts, 0.5, 99.5)
        cols["time"].append(t0 + np.arange(n, dtype=np.int64) * 1000)
        cols["customer_id"].append(np.full(n, cust, dtype=object))
        cols["application_id"].append(np.full(n, app, dtype=object))
        cols["cpu_percent"].append(np.round(pts[:, 0], 3))
        cols["ram_usage"].append(np.round(pts[:, 1] / 100.0 * limit))
        cols["ram_limit"].append(np.full(n, limit))
    return {k: np.concatenate(v) for k, v in cols.items()}


def _write_csv(cols, path, rng):
    order = rng.permutation(len(cols["time"]))
    with open(path, "w", encoding="utf-8") as f:
        f.write("time,customer_id,application_id,cpu_percent,ram_usage,"
                "ram_limit\n")
        lines = [f"{t},{c},{a},{u:.3f},{r:.0f},{l:.0f}\n" for t, c, a, u, r, l
                 in zip(cols["time"][order], cols["customer_id"][order],
                        cols["application_id"][order],
                        cols["cpu_percent"][order], cols["ram_usage"][order],
                        cols["ram_limit"][order])]
        f.writelines(lines)


def gen_cluster(rng, scale, out):
    segs = _segments(rng)
    # Zipf-skewed segment sizes; the size rank follows the segment's
    # position, so blob count per size rank and the work shape are the
    # same for every seed.
    sizes = _zipf_sizes(int(CLUSTER_ROWS * scale), len(segs), 1.0,
                        floor=min(SEGMENT_FLOOR, int(CLUSTER_ROWS * scale) // len(segs)))
    _write_csv(_metric_rows(rng, segs, sizes, 1_583_000_000_000),
               os.path.join(out, "metrics.csv"), rng)
    # One degenerate segment: a single repeated point, which the engine's
    # >=2-distinct-points guard must drop.
    with open(os.path.join(out, "metrics.csv"), "a", encoding="utf-8") as f:
        for i in range(5):
            f.write(f"{1_583_000_000_000 + i},custzz,appzz,50.000,"
                    f"{2 ** 30:.0f},{2 ** 31:.0f}\n")
    os.makedirs(os.path.join(out, "days"))
    day_sizes = _zipf_sizes(CLUSTER_DAY_ROWS, len(segs), 1.0)
    for d in range(CLUSTER_DAYS):
        _write_csv(_metric_rows(rng, segs, day_sizes, 1_584_000_000_000 + d * 86_400_000),
                   os.path.join(out, "days", f"day_{d:02d}.csv"), rng)
    truth = {f"{c}|{a}": b for c, a, b, _, _ in segs}
    return truth


# ---------------------------------------------------------------- corpus

LANGS = ("en", "en", "en", "de", "fr", "zh")
SYLLABLES = ("ka", "lo", "mi", "ter", "san", "vo", "ri", "pel", "dun", "ex",
             "qua", "bri", "tov", "ne", "shi", "mar", "gol", "fen", "ul", "ip")


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(SYLLABLES, size=k)))
    return np.array(sorted(words))


def _doc_text(rng, vocab, lang):
    n = int(rng.integers(60, 160))
    ranks = np.minimum(rng.zipf(1.3, size=n) - 1, len(vocab) - 1)
    toks = list(vocab[ranks])
    for _ in range(max(2, n // 20)):
        toks.insert(int(rng.integers(len(toks))),
                    "the" if rng.random() < 0.5 else "a")
    if lang == "zh":
        # non-Latin script: fails the gate's alphabetic-word ratio
        toks = ["".join(chr(0x4E00 + int(x)) for x in rng.integers(0, 3000, 2))
                if i % 2 else t for i, t in enumerate(toks)]
    return " ".join(toks)


def _near_copy(rng, text, vocab):
    toks = text.split(" ")
    for _ in range(max(1, len(toks) // 40)):
        toks[int(rng.integers(len(toks)))] = str(rng.choice(vocab))
    return " ".join(toks)


def _short_text(rng, vocab):
    return " ".join(["the", "a"] + list(rng.choice(vocab, size=int(rng.integers(8, 30)))))


def _doc_rows(ids, texts, langs, rng):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 4, len(ids))],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# Roles in every block of 50 documents: the planted shares are the same
# for every seed (8% exact copies, 8% near copies, 6% too short for the
# gate, the rest spread over LANGS, where "zh" fails the gate).
ROLES = ["exact"] * 4 + ["near"] * 4 + ["short"] * 3 + list(LANGS) * 6 + ["en"] * 3
# Splits of the new content in each arriving batch, so every batch writes
# the same splits whatever the seed.
NEAR_SPLITS = ["train"] * 7 + ["val"] * 2 + ["test"]
NEW_SPLITS = ["train"] * 14 + ["val"] * 3 + ["test"] * 3


def _split(text):
    """The program's content split (Sampling.contentSplit)."""
    nib = hashlib.sha256(text.encode()).hexdigest()[0]
    return "train" if nib in "0123456789ab" else "val" if nib in "cd" else "test"


def gen_corpus(rng, scale, out):
    vocab = _vocab(rng, 4000)
    n = int(DOCS * scale)
    texts, langs, exact, near, admissible = [], [], [], [], []
    for i in range(n):
        if i % len(ROLES) == 0:
            roles = [ROLES[j] for j in rng.permutation(len(ROLES))]
        role = roles[i % len(ROLES)]
        if role in ("exact", "near") and not admissible:
            role = "en"
        if role == "exact":
            src = admissible[int(rng.integers(len(admissible)))]
            texts.append(texts[src]); langs.append(langs[src]); exact.append(i)
        elif role == "near":
            src = admissible[int(rng.integers(len(admissible)))]
            texts.append(_near_copy(rng, texts[src], vocab))
            langs.append(langs[src]); near.append(i)
        elif role == "short":
            texts.append(_short_text(rng, vocab)); langs.append("en")
        else:
            texts.append(_doc_text(rng, vocab, role)); langs.append(role)
            if role != "zh":
                admissible.append(i)
    _write_parquet(_doc_rows(list(range(n)), texts, langs, rng),
                   os.path.join(out, "docs.parquet"))

    def copy_of_history():
        src = admissible[int(rng.integers(len(admissible)))]
        return texts[src], langs[src]

    def near_of_history(split=None):
        while True:
            t, lang = copy_of_history()
            t = _near_copy(rng, t, vocab)
            if split in (None, _split(t)):
                return t, lang

    def new_doc(split):
        while True:
            t = _doc_text(rng, vocab, "en")
            if _split(t) == split:
                return t, "en"

    def batch(first_id, docs):
        ts, ls = zip(*docs)
        return _doc_rows(list(range(first_id, first_id + len(ts))), list(ts),
                         list(ls), rng)

    for sub in ("arrivals", "probes"):
        os.makedirs(os.path.join(out, sub))
    for b in range(DOC_BATCHES):
        docs = ([copy_of_history() for _ in range(10)]
                + [near_of_history(s) for s in NEAR_SPLITS]
                + [new_doc(s) for s in NEW_SPLITS])
        _write_parquet(batch(10_000_000 + b * 1000, docs),
                       os.path.join(out, "arrivals", f"arrivals_{b:03d}.parquet"))
    for b in range(DOC_PROBES):
        docs = ([copy_of_history() for _ in range(3)]
                + [near_of_history() for _ in range(3)]
                + [new_doc(s) for s in ("train", "train")])
        _write_parquet(batch(20_000_000 + b * 1000, docs),
                       os.path.join(out, "probes", f"probes_{b:03d}.parquet"))
    return {"exact_copies": exact, "near_copies": near}


GENERATORS = {"cluster-ksearch": gen_cluster, "corpus-curate": gen_corpus}


def digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def generate(workload, seed, scale, out):
    os.makedirs(out)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    truth = GENERATORS[workload](rng, scale, out)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return digest(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    d = generate(a.workload, a.seed, a.scale, a.out)
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "scale": a.scale, "input_digest": d}))


if __name__ == "__main__":
    sys.exit(main())
