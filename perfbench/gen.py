"""Seeded input generator and independent expected outputs.

Every input of every workload is a pure function of ``(workload, seed,
PARAMS[workload])``. The expected outputs are computed here in plain
Python/numpy, never through ``vspace_spark``, so a check compares the
program against an independent implementation of the same semantics.

Results are cached per seed and parameters under the work directory;
the cache key also covers this file's source, so editing the generator
invalidates every cached input.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import zlib
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sentinel between corpus documents; the program's reader splits on it.
RECORD_DELIMITER = ("nferstopword " * 15).strip()
DOCID_RE = re.compile(r"^nferdoccount_[0-9]+$")
WORD_RUN = re.compile(r"[a-zA-Z0-9_]+")

PARAMS = {
    "corpus_job": {
        "docs": 120,
        "doc_tokens": [40, 120],
        "lexicon": 1500,
        "zipf_s": 1.1,
        "maxngrams": 5,
        "subsources": 12,
        "sources": 5,
        "fanout": 5,
        "phrases": 1500,
        "collections": 600,
        "vocab_miss_share": 0.2,
    },
    "near_dedup": {
        "unique": 50,
        "doc_tokens": [40, 80],
        "lexicon": 3000,
        "zipf_s": 1.1,
        # sizes of the exact-clone groups, original included
        "clone_groups": [9, 5, 4, 3, 3, 3],
        "families": 12,
        "family_variants": 2,
        # share of a base document's words a variant substitutes; the
        # rates straddle the threshold (about 0.08 for 3-shingles)
        "edit_rates": [0.02, 0.05, 0.08, 0.11, 0.15, 0.25],
        "shingle_n": 3,
        "threshold": 0.6,
    },
    "stats_stream": {
        "files": 12,
        "docs_per_file": 12,
        "warmup_files": 2,
        "doc_tokens": [30, 80],
        "lexicon": 1500,
        "zipf_s": 1.1,
        "max_n": 2,
    },
    "ann_topk": {
        "vectors": 1000,
        "dim": 32,
        "mixture": 16,
        "center_scale": 0.7,
        "batches": 4,
        "batch_queries": 25,
        "warmup_batches": 1,
        "k": 10,
        "n_cells": 16,
    },
}

_SYLLABLES = [
    c + v
    for c in "bcdfghjklmnprstvwz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou")
]


def _lexicon(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = int(rng.integers(1, 4))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _zipf_sampler(rng: np.random.Generator, lexicon: list[str], s: float):
    ranks = np.arange(1, len(lexicon) + 1, dtype=np.float64)
    p = 1.0 / (ranks + 2.7) ** s
    p /= p.sum()
    words = np.asarray(lexicon, dtype=object)

    def sample(n: int) -> list[str]:
        return list(words[rng.choice(len(words), size=n, p=p)])

    return sample


def _lengths(rng: np.random.Generator, n: int, bounds: list[int]) -> list[int]:
    """Evenly spread lengths in a seeded order: every seed yields the
    same total words, so the work per run does not vary by seed."""
    spread = np.linspace(bounds[0], bounds[1], n).round().astype(int)
    return [int(x) for x in rng.permutation(spread)]


def everygrams(tokens: list[str], max_n: int):
    for n in range(1, max_n + 1):
        for i in range(len(tokens) - n + 1):
            yield " ".join(tokens[i : i + n])


def _write_table(path: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), path, compression="snappy")


def _write_expected(out: str, label: str, rows) -> None:
    with open(os.path.join(out, f"expected_{label}.json"), "w") as fh:
        json.dump(sorted(rows), fh)


def read_expected(in_dir: str, label: str) -> set[tuple]:
    with open(os.path.join(in_dir, f"expected_{label}.json")) as fh:
        return {tuple(r) for r in json.load(fh)}


def row_agreement(got, expected: set[tuple]) -> float:
    """Jaccard overlap of two row multisets; 1.0 exactly when they are
    equal, so a duplicated output row lowers it too."""
    g, e = Counter(got), Counter(expected)
    return sum((g & e).values()) / max(1, sum((g | e).values()))


# ---------------------------------------------------------------- corpus_job


def _render(rng: np.random.Generator, tokens: list[str]) -> str:
    """Surface form the normalizer must undo: capitals, punctuation,
    hyphens and line breaks between words."""
    out = []
    for i, t in enumerate(tokens):
        if i == 0 or out[-1].endswith("."):
            t = t[:1].upper() + t[1:]
        elif rng.random() < 0.03:
            t = t.upper()
        r = rng.random()
        if r < 0.07:
            t += "."
        elif r < 0.12:
            t += ","
        out.append(t)
    text = ""
    for i, t in enumerate(out):
        sep = "" if i == 0 else ("\n" if rng.random() < 0.02 else " ")
        if i and rng.random() < 0.02 and not out[i - 1].endswith((".", ",")):
            sep = "-"
        text += sep + t
    return text


def term_stats_rows(docs, max_n, vocabulary=None, drop_docid=False):
    """(token, df, tf, tdsum) over ``docs`` = [(tokens, group)], the
    reference semantics: unigrams always pass the vocabulary gate,
    multi-grams must be in it; tdsum sums the word count of every
    document containing the token."""
    df: Counter = Counter()
    tf: Counter = Counter()
    td: Counter = Counter()
    grams_exploded = grams_kept = 0
    for tokens, group in docs:
        wc = len(tokens)
        counts: Counter = Counter()
        for g in everygrams(tokens, max_n):
            if drop_docid and DOCID_RE.match(g):
                continue
            grams_exploded += 1
            if vocabulary is not None and " " in g and g not in vocabulary:
                continue
            grams_kept += 1
            counts[g] += 1
        for g, c in counts.items():
            key = (g,) if group is None else (g, group)
            df[key] += 1
            tf[key] += c
            td[key] += wc
    rows = [(*k, df[k], tf[k], td[k]) for k in df]
    return rows, grams_exploded, grams_kept


def _gen_corpus_job(rng, p, out):
    lex = _lexicon(rng, p["lexicon"])
    sample = _zipf_sampler(rng, lex, p["zipf_s"])
    n = p["docs"]
    raw_tokens = [sample(k) for k in _lengths(rng, n, p["doc_tokens"])]
    texts = [f"nferdoccount_{i} " + _render(rng, t) for i, t in enumerate(raw_tokens)]
    with open(os.path.join(out, "corpus.txt"), "w") as fh:
        fh.write(f"\n{RECORD_DELIMITER}\n".join(texts))

    # index: skewed subsource popularity; one subsource has no source
    subs = [f"sub{j:02d}" for j in range(p["subsources"])]
    sub_p = 1.0 / np.arange(1, len(subs) + 1)
    sub_p /= sub_p.sum()
    doc_sub = [subs[int(j)] for j in rng.choice(len(subs), n, p=sub_p)]
    with open(os.path.join(out, "index.tsv"), "w") as fh:
        for i in range(n):
            fh.write(
                "\t".join(
                    [
                        str(i),
                        f"http://example.org/{doc_sub[i]}/{i}",
                        doc_sub[i],
                        str(1990 + int(rng.integers(0, 35))),
                        f"m1_{i % 7}",
                        f"Title {i}",
                        f"author{int(rng.integers(0, 50))}",
                        "x",
                        "y",
                        "z",
                    ]
                )
                + "\n"
            )
    # src2sub: each source fans out to several subsources and the
    # subsources overlap across sources; the last subsource is orphaned.
    # The layout is fixed, so the per-source work does not vary by seed.
    sub2src: dict[str, list[str]] = defaultdict(list)
    with open(os.path.join(out, "src2sub.txt"), "w") as fh:
        for s in range(p["sources"]):
            chosen = sorted(
                subs[(2 * s + j) % (len(subs) - 1)] for j in range(p["fanout"])
            )
            for c in chosen:
                sub2src[c].append(f"src{s}")
            fh.write(f"src{s} {','.join(chosen)}\n")

    # vocabulary: in-corpus multi-grams (gate hits) plus misses
    norm = [WORD_RUN.findall(t.lower()) for t in texts]
    maxn = p["maxngrams"]

    def corpus_grams(count):
        grams = []
        for _ in range(count):
            d = norm[int(rng.integers(0, n))]
            g = int(rng.integers(2, maxn + 1))
            i = int(rng.integers(0, max(1, len(d) - g)))
            grams.append(d[i : i + g])
        return grams

    def misses(count):
        return [sample(int(rng.integers(2, maxn + 1))) for _ in range(count)]

    def vocab_lines(count):
        n_miss = int(count * p["vocab_miss_share"])
        grams = corpus_grams(count - n_miss) + misses(n_miss)
        return ["_".join(g) for g in grams]

    with open(os.path.join(out, "phrases.txt"), "w") as fh:
        for g in vocab_lines(p["phrases"]):
            fh.write(f"{g} {int(rng.integers(1, 1000))}\n")
    with open(os.path.join(out, "collections.txt"), "w") as fh:
        for g in vocab_lines(p["collections"]):
            fh.write(g + "\n")

    vocab = set()
    for fname, first in (("phrases.txt", True), ("collections.txt", False)):
        with open(os.path.join(out, fname)) as fh:
            for line in fh.read().splitlines():
                tok = (line.split(" ")[0] if first else line).replace("_", " ").strip()
                if tok:
                    vocab.add(tok)

    global_rows, exploded, kept = term_stats_rows(
        [(t, None) for t in norm], maxn, vocab, drop_docid=True
    )
    src_docs = [(norm[i], s) for i in range(n) for s in sub2src.get(doc_sub[i], [])]
    source_rows, _, _ = term_stats_rows(src_docs, maxn, vocab, drop_docid=True)
    _write_expected(out, "global", global_rows)
    _write_expected(out, "source", source_rows)
    return {
        "docs": n,
        "bytes": os.path.getsize(os.path.join(out, "corpus.txt")),
        "grams_exploded": exploded,
        "gate_keep_ratio": kept / exploded,
        "source_fanout": len(src_docs) / n,
        "vocabulary": len(vocab),
        "global_rows": len(global_rows),
        "source_rows": len(source_rows),
    }


# -------------------------------------------------------------- stats_stream


def _gen_stats_stream(rng, p, out):
    lex = _lexicon(rng, p["lexicon"])
    sample = _zipf_sampler(rng, lex, p["zipf_s"])

    def write_files(name, files, doc_id):
        d = os.path.join(out, name)
        os.makedirs(d)
        tokens = []
        for f in range(files):
            toks = [sample(k) for k in _lengths(rng, p["docs_per_file"], p["doc_tokens"])]
            texts = [" ".join(t) for t in toks]
            n = len(texts)
            _write_table(
                os.path.join(d, f"part-{f:05d}.parquet"),
                {
                    "doc_id": pa.array(range(doc_id, doc_id + n), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(["en"] * n, pa.string()),
                    "source": pa.array([f"feed{f % 3}"] * n, pa.string()),
                    "n_chars": pa.array([len(x) for x in texts], pa.int64()),
                },
            )
            doc_id += n
            tokens.extend(toks)
        return d, tokens

    d, all_tokens = write_files("documents.parquet", p["files"], 0)
    # a shorter stream over other documents, for the untimed warm-up
    write_files("warmup.parquet", p["warmup_files"], len(all_tokens))
    rows, exploded, _ = term_stats_rows([(t, None) for t in all_tokens], p["max_n"])
    _write_expected(out, "stats", rows)
    return {
        "docs": len(all_tokens),
        "bytes": sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)),
        "grams_exploded": exploded,
        "stats_rows": len(rows),
    }


# ---------------------------------------------------------------- near_dedup


def shingles(text: str, n: int) -> frozenset[str]:
    """Distinct word n-grams of a whitespace-split text."""
    t = text.split()
    return frozenset(" ".join(t[i : i + n]) for i in range(len(t) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def components(nodes, pairs) -> list[frozenset]:
    """Connected components of ``pairs`` over ``nodes`` (union-find)."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = defaultdict(set)
    for v in nodes:
        groups[find(v)].add(v)
    return sorted((frozenset(g) for g in groups.values()), key=min)


def _gen_near_dedup(rng, p, out):
    """Unique documents, exact-clone groups of skewed sizes, and
    near-duplicate families: a base document plus variants that each
    substitute a fixed share of its words. The ids are shuffled so no
    structure follows from them."""
    lex = _lexicon(rng, p["lexicon"])
    sample = _zipf_sampler(rng, lex, p["zipf_s"])
    n_base = p["unique"] + len(p["clone_groups"]) + p["families"]
    bases = [sample(k) for k in _lengths(rng, n_base, p["doc_tokens"])]
    texts = [" ".join(t) for t in bases[: p["unique"]]]
    clone_docs = 0
    for g, size in enumerate(p["clone_groups"]):
        texts += [" ".join(bases[p["unique"] + g])] * size
        clone_docs += size - 1
    variants = 0
    for f in range(p["families"]):
        base = bases[p["unique"] + len(p["clone_groups"]) + f]
        texts.append(" ".join(base))
        for v in range(p["family_variants"]):
            rate = p["edit_rates"][(f * p["family_variants"] + v) % len(p["edit_rates"])]
            t = list(base)
            for i in rng.choice(len(t), round(rate * len(t)), replace=False):
                t[int(i)] = sample(1)[0]
            texts.append(" ".join(t))
            variants += 1
    ids = [int(i) for i in rng.permutation(len(texts))]
    _write_table(
        os.path.join(out, "docs.parquet"),
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())},
    )
    # every pair at or above the threshold, by exact Jaccard over all pairs
    sh = {i: shingles(t, p["shingle_n"]) for i, t in zip(ids, texts)}
    order = sorted(sh)
    true_pairs = [
        [a, b]
        for x, a in enumerate(order)
        for b in order[x + 1 :]
        if jaccard(sh[a], sh[b]) >= p["threshold"]
    ]
    with open(os.path.join(out, "true_pairs.json"), "w") as fh:
        json.dump(true_pairs, fh)
    return {
        "docs": len(texts),
        "bytes": os.path.getsize(os.path.join(out, "docs.parquet")),
        "clone_share": clone_docs / len(texts),
        "near_dup_share": variants / len(texts),
        "true_pairs": len(true_pairs),
        "true_clusters": len(components(order, true_pairs)),
    }


# ------------------------------------------------------------------ ann_topk


def exact_topk(queries: np.ndarray, corpus: np.ndarray, k: int) -> np.ndarray:
    """Row indices of each query's ``k`` most cosine-similar corpus rows."""
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    return np.argsort(-(qn @ cn.T), axis=1, kind="stable")[:, :k]


def _gen_ann_topk(rng, p, out):
    """A Gaussian mixture: ``mixture`` centers, unit noise around each.
    Queries are fresh draws from the same mixture, split into batches;
    their ids do not occur in the corpus."""
    dim = p["dim"]
    centers = rng.normal(0.0, p["center_scale"], (p["mixture"], dim))

    def draw(n):
        return centers[rng.integers(0, p["mixture"], n)] + rng.normal(0.0, 1.0, (n, dim))

    def write(path, ids, vecs):
        _write_table(
            path,
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
            },
        )

    corpus = draw(p["vectors"])
    write(os.path.join(out, "corpus.parquet"), list(range(p["vectors"])), corpus)
    expected = {}
    qid = 1_000_000
    for name, count in (("batch", p["batches"]), ("warmup", p["warmup_batches"])):
        for b in range(count):
            q = draw(p["batch_queries"])
            ids = list(range(qid, qid + len(q)))
            qid += len(q)
            write(os.path.join(out, f"{name}-{b:03d}.parquet"), ids, q)
            if name == "batch":
                for i, row in zip(ids, exact_topk(q, corpus, p["k"])):
                    expected[str(i)] = [int(x) for x in row]
    with open(os.path.join(out, "exact_topk.json"), "w") as fh:
        json.dump(expected, fh)
    return {
        "docs": len(expected),
        "vectors": p["vectors"],
        "queries": len(expected),
        "bytes": os.path.getsize(os.path.join(out, "corpus.parquet")),
    }


_GENERATORS = {
    "corpus_job": _gen_corpus_job,
    "near_dedup": _gen_near_dedup,
    "stats_stream": _gen_stats_stream,
    "ann_topk": _gen_ann_topk,
}


def cache_key(workload: str, seed: int) -> str:
    with open(__file__, "rb") as fh:
        src = fh.read()
    blob = json.dumps([workload, seed, PARAMS[workload]], sort_keys=True)
    return hashlib.sha256(src + blob.encode()).hexdigest()[:16]


def generate(workload: str, seed: int, root: str) -> tuple[str, dict]:
    """Inputs for ``workload`` at ``seed`` under ``root``; returns the
    input directory and the facts recorded about it (sizes, planted
    structure, expected digests). Reuses a complete cached copy."""
    out = os.path.join(root, f"{workload}-s{seed}-{cache_key(workload, seed)}")
    meta_path = os.path.join(out, "expected.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return out, json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per workload and seed, independent of the others
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    meta = _GENERATORS[workload](rng, PARAMS[workload], tmp)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, meta
