"""Seeded input generator for the three benchmark workloads.

Every workload writes parquet files plus `truth.json` (the planted facts the
generator chose) into one directory. The same `(workload, seed)` always
yields byte-identical files: all randomness comes from one numpy Generator
seeded with `[seed, workload id]`, and parquet is written without
timestamps or statistics that could vary.

    python3 benchmark/gen.py --workload curate --seed 7 --out .bench_build/curate-7
"""

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("spec", "curate")

# Table sizes. Passes are dominated by per-job driver overhead at these
# sizes (see README), so they are kept small enough for many warm passes
# to fit in one timed run.
WITHIN_ROWS = 10_000
INTERVAL_KEYS = 400
BETWEEN_ROWS = 10_000
CORPUS_DOCS = 450


def _rng(seed, workload):
    return np.random.default_rng([int(seed), WORKLOADS.index(workload)])


def _write(table, path):
    pq.write_table(table, path, compression="snappy", write_statistics=False,
                   use_dictionary=False)


def _letters(rng, n, k, alphabet):
    idx = rng.integers(0, len(alphabet), size=(n, k))
    arr = np.array(list(alphabet))[idx]
    return ["".join(r) for r in arr]


def gen_within(seed, out):
    rng = _rng(seed, "spec")
    n = WITHIN_ROWS
    ids = rng.permutation(n).astype(np.int64)
    amount = np.round(rng.lognormal(3.0, 0.8, n), 2)
    status = np.array(["A", "B", "C", "D"])[
        rng.choice(4, size=n, p=[0.5, 0.3, 0.15, 0.05])]
    codes = np.array(
        [a + "-" + b for a, b in zip(_letters(rng, n, 3, "ABCDEFGHIJKLMNOPQRSTUVWXYZ"),
                                     _letters(rng, n, 4, "0123456789"))], dtype=object)
    bad_codes = rng.choice(n, size=int(n * 0.02), replace=False)
    codes[bad_codes] = [c.lower() for c in codes[bad_codes]]
    facts = pa.table({"id": ids, "amount": amount, "status": status.astype(object), "code": codes})
    _write(facts, os.path.join(out, "facts.parquet"))

    # interval table: per key contiguous [start, end] ranges; a planted set
    # of keys gets one gap, a disjoint set one overlap
    keys = np.arange(INTERVAL_KEYS, dtype=np.int64)
    order = rng.permutation(INTERVAL_KEYS)
    gap_keys = set(order[: INTERVAL_KEYS // 25].tolist())
    overlap_keys = set(order[INTERVAL_KEYS // 25: INTERVAL_KEYS // 25 + INTERVAL_KEYS // 20].tolist())
    rows = {"k": [], "start": [], "end": []}
    for k in keys:
        m = int(rng.integers(5, 16))
        lens = rng.integers(5, 50, m)
        special = int(rng.integers(1, m))
        s = int(rng.integers(0, 1000))
        for j in range(m):
            if j == special and k in gap_keys:
                s += int(rng.integers(1, 6))
            if j == special and k in overlap_keys:
                s -= int(rng.integers(1, min(lens[j - 1], lens[j])))
            e = s + int(lens[j])
            rows["k"].append(int(k))
            rows["start"].append(s)
            rows["end"].append(e)
            s = e
    perm = rng.permutation(len(rows["k"]))
    intervals = pa.table({c: pa.array(np.array(v, dtype=np.int64)[perm]) for c, v in rows.items()})
    _write(intervals, os.path.join(out, "intervals.parquet"))
    return {"rows": n, "bad_codes": len(bad_codes), "gap_keys": len(gap_keys),
            "overlap_keys": len(overlap_keys), "interval_keys": INTERVAL_KEYS}


def gen_between(seed, out):
    rng = np.random.default_rng([int(seed), len(WORKLOADS)])
    n = BETWEEN_ROWS
    cats = np.array(["c%02d" % i for i in range(20)])
    v1 = {
        "id": np.arange(n, dtype=np.int64),
        "cat": cats[rng.integers(0, 20, n)].astype(object),
        "val": np.round(rng.normal(100.0, 15.0, n), 2),
        "qty": rng.integers(0, 100, n).astype(np.int64),
    }
    n_del = n // 100
    n_chg = n // 200
    n_add = n // 50
    perm = rng.permutation(n)
    deleted = np.sort(perm[:n_del])
    changed = np.sort(perm[n_del:n_del + n_chg])
    keep = np.ones(n, dtype=bool)
    keep[deleted] = False
    v2 = {c: a.copy() for c, a in v1.items()}
    v2["val"][changed] = np.round(v2["val"][changed] + rng.uniform(1.0, 5.0, n_chg), 2)
    v2 = {c: a[keep] for c, a in v2.items()}
    # additions: new ids, partly in a new category, values from a shifted
    # distribution
    add = {
        "id": np.arange(n, n + n_add, dtype=np.int64),
        "cat": np.where(rng.random(n_add) < 0.5, "c20", cats[rng.integers(0, 20, n_add)]).astype(object),
        "val": np.round(rng.normal(160.0, 10.0, n_add), 2),
        "qty": rng.integers(0, 100, n_add).astype(np.int64),
    }
    v2 = {c: np.concatenate([v2[c], add[c]]) for c in v2}
    order = rng.permutation(len(v2["id"]))
    v2 = {c: a[order] for c, a in v2.items()}
    _write(pa.table(v1), os.path.join(out, "v1.parquet"))
    _write(pa.table(v2), os.path.join(out, "v2.parquet"))
    return {"rows": n, "deleted": n_del, "changed": n_chg, "added": n_add}


STOPWORDS = ["the", "and", "of", "to", "in", "a", "is"]
GERMAN = ["der", "die", "und", "das", "ist", "ein", "nicht"]


def _vocab(rng, size):
    syll = ["ka", "ro", "mi", "tu", "le", "sa", "po", "ne", "di", "va", "lo",
            "ri", "fe", "gu", "ha", "zo", "be", "ci", "mo", "ta"]
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(syll, int(rng.integers(2, 4)))))
    return sorted(words)


def _doc_words(rng, vocab, n, stop=STOPWORDS):
    out = []
    for _ in range(n):
        if rng.random() < 0.3:
            out.append(stop[int(rng.integers(0, len(stop)))])
        else:
            out.append(vocab[int(rng.integers(0, len(vocab)))])
    return out


def _render(words, rng):
    """Words → text: sentences of 8-14 words, capitalised, ending in '.'."""
    parts, i = [], 0
    while i < len(words):
        k = int(rng.integers(8, 15))
        sent = words[i:i + k]
        sent = [sent[0].capitalize()] + sent[1:]
        parts.append(" ".join(sent) + ".")
        i += k
    return " ".join(parts)


def gen_curate(seed, out):
    rng = _rng(seed, "curate")
    vocab = _vocab(rng, 4000)
    n = CORPUS_DOCS
    kinds = rng.choice(["normal", "short", "junk", "german", "bullets"], size=n,
                       p=[0.86, 0.05, 0.03, 0.03, 0.03])
    texts = []
    for kind in kinds:
        if kind == "normal":
            texts.append(_render(_doc_words(rng, vocab, int(rng.integers(120, 180))), rng))
        elif kind == "short":
            texts.append(_render(_doc_words(rng, vocab, int(rng.integers(25, 45))), rng))
        elif kind == "junk":
            toks = ["%s%d" % (vocab[int(rng.integers(0, len(vocab)))][:2], int(rng.integers(0, 99999)))
                    for _ in range(int(rng.integers(15, 30)))]
            texts.append(" ".join(toks))
        elif kind == "german":
            texts.append(_render(_doc_words(rng, vocab, int(rng.integers(80, 140)), GERMAN), rng))
        else:
            lines = [" ".join(["-"] + _doc_words(rng, vocab, int(rng.integers(5, 10))))
                     for _ in range(int(rng.integers(8, 14)))]
            texts.append("\n".join(lines))
    normal = [i for i, k in enumerate(kinds) if k == "normal"]
    order = rng.permutation(normal)
    n_clusters, n_exact, n_span_docs, n_contam = 25, 15, 24, 15
    cluster_bases = order[:n_clusters]
    exact_bases = order[n_clusters:n_clusters + n_exact]
    span_docs = order[n_clusters + n_exact:n_clusters + n_exact + n_span_docs]
    contam_docs = order[n_clusters + n_exact + n_span_docs:
                        n_clusters + n_exact + n_span_docs + n_contam]

    # cloned spans: spans of 20 words, each inserted into 3 documents
    spans = [" ".join(_doc_words(rng, vocab, 20)) for _ in range(n_span_docs // 3)]
    for j, d in enumerate(span_docs):
        sentences = texts[d].split(". ")
        pos = int(rng.integers(1, len(sentences)))
        sentences.insert(pos, spans[j // 3])
        texts[d] = ". ".join(sentences)

    # eval set: each contaminated corpus doc receives a 12-word run copied
    # from one of its documents
    eval_words = [_doc_words(rng, vocab, 100) for _ in range(20)]
    eval_texts = [_render(w, rng) for w in eval_words]
    for d in contam_docs:
        src = eval_words[int(rng.integers(0, len(eval_words)))]
        at = int(rng.integers(0, len(src) - 12))
        words = texts[d].split(" ")
        pos = int(rng.integers(1, len(words) - 1))
        texts[d] = " ".join(words[:pos] + src[at:at + 12] + words[pos:])

    extra = []  # (base index, text) of every added copy or variant
    # near-duplicate clusters: 2-4 variants of a base, each with one word
    # replaced
    for b in cluster_bases:
        words = texts[b].split(" ")
        for _ in range(int(rng.integers(2, 5))):
            w = list(words)
            p = int(rng.integers(0, len(w)))
            w[p] = vocab[int(rng.integers(0, len(vocab)))]
            extra.append((int(b), " ".join(w)))
    for b in exact_bases:
        for _ in range(int(rng.integers(1, 3))):
            extra.append((int(b), texts[b]))
    ids = rng.permutation(np.arange(100_000, 100_000 + n + len(extra))).astype(np.int64)
    all_texts = texts + [t for _, t in extra]
    group_of = {}
    for j, (b, _) in enumerate(extra):
        group_of[int(ids[n + j])] = int(ids[b])
        group_of[int(ids[b])] = int(ids[b])
    groups = {}
    for doc, g in group_of.items():
        groups.setdefault(g, []).append(doc)
    perm = rng.permutation(len(all_texts))
    corpus = pa.table({
        "id": pa.array(ids[perm], type=pa.int64()),
        "text": pa.array([all_texts[i] for i in perm], type=pa.string()),
    })
    _write(corpus, os.path.join(out, "corpus.parquet"))
    evalset = pa.table({
        "id": pa.array(np.arange(len(eval_texts), dtype=np.int64)),
        "text": pa.array(eval_texts, type=pa.string()),
    })
    _write(evalset, os.path.join(out, "eval.parquet"))
    return {"docs": len(all_texts), "groups": sorted(sorted(g) for g in groups.values()),
            "span_docs": sorted(int(ids[d]) for d in span_docs),
            "contaminated_docs": sorted(int(ids[d]) for d in contam_docs)}


def gen_spec(seed, out):
    return {"within": gen_within(seed, out), "between": gen_between(seed, out)}


GENERATORS = {"spec": gen_spec, "curate": gen_curate}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](seed, out)
    truth.update({"workload": workload, "seed": int(seed)})
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
