"""Seeded input generators for the benchmark workloads.

Each generator writes its files into one directory together with a
`manifest.json` that records every file's sha256 and row count. Inputs
on disk are reused only when the manifest matches the requested
(workload, seed, size) and every file still hashes and counts to what
the manifest says; anything else is regenerated, so nothing stale on
disk is trusted.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

# --- lfq_workflow: a MaxQuant `Phospho (STY)Sites` export ----------------

GROUPS = ("Control", "Treat")
TIMEPOINTS = (1, 2, 3, 4)
REPLICATES = (1, 2, 3)
TECHNICAL = ("A", "B")
MULTIPLICITY = ("___1", "___2", "___3")
LFQ_SITES = 600


def lfq_labels():
    return [f"{g}_T{t}_R{r}_{x}" for g in GROUPS for t in TIMEPOINTS
            for r in REPLICATES for x in TECHNICAL]


def gen_lfq(out_dir, seed, n_sites=LFQ_SITES):
    """Site table: ~30-60% missing cells (written as empty or 0, both of
    which the chain treats as missing), ~3% reverse/contaminant rows,
    ~15% of sites carrying a treatment effect over time."""
    rng = np.random.default_rng(seed)
    labels = lfq_labels()
    n_lab = len(labels)
    group_of = np.array([0 if l.startswith("Control") else 1 for l in labels])
    tp_of = np.array([int(l.split("_")[1][1:]) for l in labels])
    load = rng.normal(0.0, 0.2, n_lab)  # per-sample loading offset

    def exactly(frac):  # a mask with exactly round(frac * n_sites) sites set
        mask = np.zeros(n_sites, bool)
        mask[rng.permutation(n_sites)[:round(frac * n_sites)]] = True
        return mask

    base = rng.normal(22.0, 2.0, n_sites)
    effect = np.where(exactly(0.15),
                      rng.choice([-1.0, 1.0], n_sites) * rng.normal(1.5, 0.4, n_sites), 0.0)
    shape = rng.integers(0, 4, n_sites)  # timecourse shape of the effect
    shapes = np.array([[0.25, 0.5, 0.75, 1.0], [1.0, 0.75, 0.5, 0.25],
                       [0.2, 1.0, 1.0, 0.2], [1.0, 1.0, 1.0, 1.0]])
    miss_p = rng.uniform(0.3, 0.6, n_sites)

    cols = {
        "id": np.arange(1, n_sites + 1),
        "Proteins": [f"P{rng.integers(10000, 99999)};Q{rng.integers(1000, 9999)}"
                     for _ in range(n_sites)],
        "Positions within proteins": rng.integers(1, 2000, n_sites).astype(str),
        "Amino acid": rng.choice(["S", "T", "Y"], n_sites, p=[0.85, 0.13, 0.02]),
        "Localization prob": np.round(np.where(exactly(0.8),
                                               rng.uniform(0.75, 1.0, n_sites),
                                               rng.uniform(0.2, 0.75, n_sites)), 4),
        "PEP": np.round(rng.uniform(0.0, 0.05, n_sites), 6),
        "Score": np.round(rng.uniform(40.0, 250.0, n_sites), 2),
        "Reverse": np.where(exactly(0.015), "+", ""),
        "Potential contaminant": np.where(exactly(0.015), "+", ""),
    }
    header = list(cols)
    intensity_blocks = []
    for m, sfx in enumerate(MULTIPLICITY):
        mult_off = -1.5 * m  # higher multiplicities are rarer and dimmer
        eff = effect[:, None] * shapes[shape][:, tp_of - 1] * group_of[None, :]
        logv = (base[:, None] + mult_off + load[None, :] + eff
                + rng.normal(0.0, 0.3, (n_sites, n_lab)))
        missing = rng.random((n_sites, n_lab)) < (miss_p[:, None] + 0.1 * m)
        vals = np.rint(np.exp2(logv)).astype(np.int64)
        zero = rng.random((n_sites, n_lab)) < 0.5
        cells = np.where(missing, np.where(zero, "0", ""), vals.astype(str))
        intensity_blocks.append(cells)
        header += [f"Intensity {lab}{sfx}" for lab in labels]
    path = os.path.join(out_dir, "sites.tsv")
    with open(path, "w") as f:
        f.write("\t".join(header) + "\n")
        fixed = [cols[c] for c in cols]
        for i in range(n_sites):
            row = [str(c[i]) for c in fixed]
            for block in intensity_blocks:
                row.extend(block[i])
            f.write("\t".join(row) + "\n")
    with open(os.path.join(out_dir, "design.tsv"), "w") as f:
        f.write("Label\tGroup\tTimepoint\tReplicate\tTechnical\n")
        for lab in labels:
            g, t, r, x = lab.split("_")
            f.write(f"{lab}\t{g}\t{t[1:]}\t{r[1:]}\t{x}\n")
    return {"n_sites": n_sites, "n_samples": n_lab, "n_multiplicity": len(MULTIPLICITY),
            "n_intensity_cells": n_sites * n_lab * len(MULTIPLICITY)}


# --- corpus_ingest: a text corpus with Zipf vocabulary and near-dups ------

CORPUS_DOCS = 6000
STOP_EN = ("the", "and", "of", "to", "in")
STOP_DE = ("der", "und", "die", "das", "ist")
# doc_id ranges: [0, BASE) indexed up front, then INGEST_BATCHES equal
# batches, then a held-out probe set used only by the correctness check
BASE_FRAC, INGEST_FRAC, INGEST_BATCHES = 0.80, 0.10, 2


def corpus_splits(n_docs):
    base = int(n_docs * BASE_FRAC)
    per = int(n_docs * INGEST_FRAC) // INGEST_BATCHES
    batches = [(base + i * per, base + (i + 1) * per) for i in range(INGEST_BATCHES)]
    return {"base": [0, base], "batches": batches,
            "holdout": [base + INGEST_BATCHES * per, n_docs]}


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, rng.integers(3, 10))))
    return sorted(words)


def gen_corpus(out_dir, seed, n_docs=CORPUS_DOCS):
    """~25% of documents sit in near-duplicate cliques (copies with ~3%
    of tokens replaced), ~3% are exact copies, ~8% fail the quality,
    language or length gates."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng, 5000))
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()

    def fresh(lang="en"):
        n = int(rng.integers(30, 120))
        toks = list(rng.choice(vocab, n, p=zipf))
        stops = STOP_EN if lang == "en" else STOP_DE
        for j in range(0, n, 5):
            toks[j] = stops[int(rng.integers(0, len(stops)))]
        return toks

    # fixed count of each kind of document, so every seed does the same
    # amount of gating and dedup work; only the words change
    n_clique, n_copy, n_de, n_short, n_noisy = (
        round(f * n_docs) for f in (0.25, 0.03, 0.03, 0.02, 0.03))
    texts = []
    size = 2
    while len(texts) < n_clique:  # cliques of 2-5 near-dups
        toks = fresh()
        for _ in range(min(size, n_clique - len(texts))):
            t = list(toks)
            for j in rng.choice(len(t), max(1, len(t) // 33), replace=False):
                t[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(t))
        size = 2 + (size - 1) % 4
    for _ in range(n_copy):
        texts.append(texts[int(rng.integers(0, len(texts)))])  # exact copy
    texts += [" ".join(fresh("de")) for _ in range(n_de)]
    texts += [" ".join(fresh()[: int(rng.integers(1, 4))]) for _ in range(n_short)]
    texts += [" ".join(f"{w}{int(rng.integers(0, 10**6))}!!" for w in fresh())
              for _ in range(n_noisy)]
    while len(texts) < n_docs:
        texts.append(" ".join(fresh()))
    texts = texts[:n_docs]
    order = rng.permutation(n_docs)  # cliques land across base, batches and holdout
    table = pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                      "text": pa.array([texts[i] for i in order], pa.string())})
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"), row_group_size=n_docs // 8)
    return {"n_docs": n_docs, "splits": corpus_splits(n_docs),
            "corpus_bytes": int(sum(len(t) for t in texts))}


GENERATORS = {"lfq_workflow": gen_lfq, "corpus_ingest": gen_corpus}
SHAPES = {"lfq_workflow": [LFQ_SITES, len(lfq_labels()), len(MULTIPLICITY)],
          "corpus_ingest": [CORPUS_DOCS, BASE_FRAC, INGEST_FRAC, INGEST_BATCHES]}


# --- manifest: checksum + row count, verified before any reuse ------------

def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _rows(path):
    if path.endswith(".parquet"):
        return pq.ParquetFile(path).metadata.num_rows
    with open(path, "rb") as f:
        return sum(1 for _ in f) - 1  # header row


def _describe_files(out_dir):
    return {name: {"sha256": _sha256(os.path.join(out_dir, name)),
                   "rows": _rows(os.path.join(out_dir, name))}
            for name in sorted(os.listdir(out_dir)) if name != "manifest.json"}


def verify(out_dir, key):
    """The stored manifest if it matches `key` and every file on disk,
    else None."""
    try:
        with open(os.path.join(out_dir, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    if manifest.get("key") != key:
        return None
    try:
        if _describe_files(out_dir) != manifest.get("files"):
            return None
    except (OSError, ValueError):  # unreadable or corrupt file
        return None
    return manifest


def ensure_inputs(root, workload, seed):
    """Directory holding verified inputs for (workload, seed), generating
    them when absent or when any check fails. Returns (dir, manifest,
    reused)."""
    out_dir = os.path.join(root, f"{workload}-seed{seed}")
    key = {"workload": workload, "seed": seed, "version": GENERATOR_VERSION,
           "shape": SHAPES[workload]}
    manifest = verify(out_dir, key)
    if manifest is not None:
        return out_dir, manifest, True
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    sizes = GENERATORS[workload](out_dir, seed)
    manifest = {"key": key, "sizes": sizes, "files": _describe_files(out_dir)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return out_dir, manifest, False
