"""Seeded benchmark inputs, generated once per (workload, seed, size) and
cached under the work directory. Generation is never timed.

- Clinical model: ``fixtures.generate_clinical_csvs`` (users / weights /
  treatments CSVs, the reference's input shape).
- Corpus: an LLM-style documents table. Words are drawn from a Zipf
  vocabulary, so some shingles are hot; about 20 % of documents are planted
  copies of an original, three in four with 0-5 % of their words replaced
  (so some copies are exact), one in four with 5-15 %. Its manifest holds the exact set of pairs with
  Jaccard ≥ τ, which both near-duplicate operators must return.
- Interactive queries: a seeded sequence of cohort query parameters.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random
import shutil
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench")

# Corpus shape and the dedup / curate parameters its expectations depend on.
VOCAB = 5000
ZIPF_S = 1.1
WORDS = (20, 120)
COPY_FRAC = 0.2
MAX_REPLACED = 0.05
# A quarter of the planted copies are edited harder, so their Jaccard with
# the original straddles τ and the pair checks see pairs near the threshold.
EDITED_FRAC = 0.25
EDITED_REPLACED = (0.05, 0.15)
SOURCES = ("web", "books", "wiki", "forum")
K = 3
TAU = 0.5
MIN_TOKENS, MAX_TOKENS, BUDGET = 40, 110, 512


def _clinical(out: str, n_users: int, seed: int) -> dict:
    from datamodel_clinicaldata_spark.fixtures import generate_clinical_csvs

    rows = generate_clinical_csvs(out, n_users, seed)
    with open(os.path.join(out, "users.csv"), newline="") as fh:
        groups = sorted({(r["Gender"], int(r["ClinicID"])) for r in csv.DictReader(fh)})
    return {"rows": rows, "fact_rows": rows["weights"], "groups": groups}


def shingles(words: list[str], k: int = K) -> set[str]:
    """Distinct k-word shingles, the unit the dedup operators compare."""
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def similar_pairs(ids: list[int], sets: list[set]) -> list[list]:
    """Every pair of documents whose shingle sets have Jaccard ≥ ``TAU``,
    as sorted ``[id_a, id_b, jaccard]`` with id_a < id_b: the exact answer
    both candidate generators must return. Shared shingles per pair are
    counted through an inverted index, so only pairs sharing one are
    visited."""
    postings: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for x in s:
            postings.setdefault(x, []).append(i)
    shared: Counter = Counter()
    for docs in postings.values():
        for j, a in enumerate(docs):
            for b in docs[j + 1 :]:
                shared[a, b] += 1
    out = []
    for (a, b), n in shared.items():
        jac = n / (len(sets[a]) + len(sets[b]) - n)
        if jac >= TAU:
            out.append([*sorted((ids[a], ids[b])), jac])
    return sorted(out)


def _corpus(out: str, n_docs: int, seed: int) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, int(rng.integers(2, 8)))) + str(i)
        for i in range(VOCAB)
    ]
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()

    n_copies = int(n_docs * COPY_FRAC)
    n_orig = n_docs - n_copies
    docs = [
        rng.choice(VOCAB, int(rng.integers(WORDS[0], WORDS[1] + 1)), p=p)
        for _ in range(n_orig)
    ]
    origin = []
    for _ in range(n_copies):
        src = int(rng.integers(0, n_orig))
        doc = docs[src].copy()
        lo, hi = EDITED_REPLACED if rng.random() < EDITED_FRAC else (0.0, MAX_REPLACED)
        n_rep = int(rng.integers(int(lo * len(doc)), int(hi * len(doc)) + 1))
        pos = rng.choice(len(doc), n_rep, replace=False)
        doc[pos] = rng.choice(VOCAB, n_rep, p=p)
        docs.append(doc)
        origin.append(src)
    ids = rng.permutation(n_docs)  # doc_id of the i-th generated document
    words = [[vocab[j] for j in d] for d in docs]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "source": [SOURCES[int(s)] for s in rng.integers(0, len(SOURCES), n_docs)],
            "text": [" ".join(w) for w in words],
        }
    ).sort_by("doc_id")
    pq.write_table(table, os.path.join(out, "documents.parquet"))

    must_find = []
    for c, src in enumerate(origin):
        a, b = int(ids[src]), int(ids[n_orig + c])
        if jaccard(shingles(words[src]), shingles(words[n_orig + c])) >= TAU:
            must_find.append(sorted((a, b)))
    pairs = similar_pairs([int(i) for i in ids], [shingles(w) for w in words])
    assert {tuple(p) for p in must_find} <= {(a, b) for a, b, _ in pairs}
    keep: dict[str, int] = {}  # distinct in-range text -> its smallest doc_id
    for i, w in enumerate(words):
        if MIN_TOKENS <= len(w) <= MAX_TOKENS:
            text = " ".join(w)
            keep[text] = min(keep.get(text, n_docs), int(ids[i]))
    return {
        "rows": {"documents": n_docs},
        "fact_rows": n_docs,
        "planted": n_copies,
        "must_find": sorted(must_find),
        "pairs": pairs,
        "curated_ids": sorted(keep.values()),
    }


GENERATORS = {
    "cohort_interactive": _clinical,
    "corpus_dedup": _corpus,
}


def generate(out: str, workload: str, seed: int, size: int) -> dict:
    """Write the inputs of ``workload`` into ``out`` and return a manifest
    with row counts and bytes per file."""
    os.makedirs(out, exist_ok=True)
    man = GENERATORS[workload](out, size, seed)
    man["bytes"] = {
        f: os.path.getsize(os.path.join(out, f)) for f in sorted(os.listdir(out))
    }
    man["input_bytes"] = sum(man["bytes"].values())
    man.update(workload=workload, seed=seed, size=size, dir=out)
    return man


def _generator_digest() -> str:
    """Digest of the generating code, so a changed generator never reuses
    inputs cached by an older one."""
    from datamodel_clinicaldata_spark import fixtures

    h = hashlib.sha1()
    for path in (__file__, fixtures.__file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def cached(workload: str, seed: int, size: int) -> dict:
    """Inputs for (workload, seed, size), generated on first use."""
    d = os.path.join(WORK_DIR, "inputs", f"{workload}-seed{seed}-n{size}-{_generator_digest()}")
    path = os.path.join(d, "manifest.json")
    if not os.path.exists(path):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        man = generate(tmp, workload, seed, size)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(man, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(path) as fh:
        man = json.load(fh)
    man["dir"] = d
    return man


AGE_BAND = 15  # years spanned by an interactive query's age filter


def interactive_queries(seed: int, groups: list, n: int = 1000) -> list[dict]:
    """The seeded query sequence of the interactive client. Every query
    draws its age band (``AGE_BAND`` years starting at 18-57) and its
    clinic from the seed; cohort (week, month) and gender (all, or one)
    are balanced over each block of four queries, in a seeded order, so
    runs with different seeds run different queries of the same mix. A
    single-gender query takes a (gender, clinic) group that occurs in the
    users, so no query is empty by construction."""
    clinics = sorted({c for _, c in groups})
    kinds = [(cohort, one) for cohort in ("week", "month") for one in (False, True)]
    rng = random.Random(f"interactive-{seed}")
    out: list[dict] = []
    while len(out) < n:
        rng.shuffle(kinds)
        for cohort, one in kinds:
            gender, clinic = tuple(rng.choice(groups)) if one else ("all", rng.choice(clinics))
            lo = rng.randint(18, 72 - AGE_BAND)
            out.append(
                {"cohort": cohort, "gender": gender, "min_age": lo, "max_age": lo + AGE_BAND, "clinic_id": clinic}
            )
    return out[:n]
