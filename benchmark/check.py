"""Independent checker: derives every expected outcome from the generated
files alone (DuckDB, numpy and pyarrow; no program code), and verifies the
outputs a benchmark run recorded against them.

Spec: each check is declared twice, with its tolerance just on either side
of the value computed here, so one of the pair must pass and the other must
fail. The checker writes the declarations with their expected
outcome to `checks.tsv`; the benchmark declares the specification from that
file.

Curate: the checker re-implements each stage's documented semantics (gopher
rules, language and quality gates, exact dedup, shingle Jaccard, connected
components, exact-substring span removal, n-gram decontamination) and
writes the expected output of every stage.

    python3 benchmark/check.py --workload curate --seed 7 --dir .bench_build/curate-7

regenerates the inputs for the seed into `--dir` and re-derives the
expectations into `--dir/expect`.
"""

import argparse
import hashlib
import json
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

# ----------------------------------------------------------------------- spec
#
# One specification of three requirements: within `facts`, within
# `intervals`, and between `v2` (new) and `v1` (old).


def _q1(con, sql):
    return con.execute(sql).fetchone()


def _pair(name, family, kind, ok_params, bad_params, common=None):
    """The passing and the failing declaration of one bracketed check."""
    common = common or {}
    return [{"name": name + ".pass", "family": family, "kind": kind, "expect": True,
             "params": dict(common, **ok_params)},
            {"name": name + ".fail", "family": family, "kind": kind, "expect": False,
             "params": dict(common, **bad_params)}]


def _interval_gaps(keys, starts, ends):
    """Per key, sweep intervals by start with a running max end; a key has a
    gap where a start lies beyond it. Returns (keys with a gap, keys)."""
    order = np.lexsort((starts, keys))
    gap = set()
    prev_key, run_end = None, None
    for i in order:
        k, s, e = int(keys[i]), int(starts[i]), int(ends[i])
        if k == prev_key:
            if s > run_end:
                gap.add(k)
            run_end = max(run_end, e)
        else:
            prev_key, run_end = k, e
    return len(gap), len(set(keys.tolist()))


def expect_spec(d):
    con = duckdb.connect()
    for t in ("facts", "intervals", "v1", "v2"):
        con.execute(f"create view {t} as select * from read_parquet('{os.path.join(d, t)}.parquet')")
    fx = {"table": "facts"}
    n = _q1(con, "select count(*) from facts")[0]
    half = 0.5 / n
    lo, hi = 10.005, 50.005
    frac_between = _q1(con, f"select count(*) filter (where amount >= {lo} and amount <= {hi}) "
                            "/ count(*) from facts")[0]
    regex = "^[A-Z]{3}-[0-9]{4}$"
    pat = re.compile(regex)
    codes = con.execute("select code from facts where code is not null").fetchnumpy()["code"]
    regex_frac = sum(1 for c in codes if not pat.match(c)) / len(codes)
    shares = dict(con.execute("select status, count(*) / (select count(*) from facts) "
                              "from facts group by status").fetchall())
    share_ok = {k: [v - half, v + half] for k, v in shares.items()}
    share_bad = dict(share_ok, D=[shares["D"] + half, shares["D"] + 3 * half])
    iv = pq.read_table(os.path.join(d, "intervals.parquet")).to_pydict()
    n_gap, n_keys = _interval_gaps(np.array(iv["k"]), np.array(iv["start"]), np.array(iv["end"]))
    khalf = 0.5 / n_keys

    only2 = _q1(con, "select count(*) from (select * from v2 except select * from v1)")[0]
    only1 = _q1(con, "select count(*) from (select * from v1 except select * from v2)")[0]
    union = _q1(con, "select count(*) from (select * from v2 union select * from v1)")[0]
    eq = (only1 + only2) / union

    return (
        _pair("nrows_min", "nrows", "nrows_min", {"n": n}, {"n": n + 1}, fx)
        + _pair("amount_between", "numeric", "num_between", {"min_fraction": frac_between - half},
                {"min_fraction": frac_between + half}, dict(fx, column="amount", lo=lo, hi=hi))
        + _pair("code_regex", "varchar", "regex", {"tol": regex_frac + half},
                {"tol": regex_frac - half}, dict(fx, column="code", regex=regex))
        + _pair("status_shares", "uniques", "categorical", {"bounds": share_ok},
                {"bounds": share_bad}, dict(fx, column="status"))
        + _pair("interval_gaps", "intervals", "no_gap", {"tol": n_gap / n_keys + khalf},
                {"tol": n_gap / n_keys - khalf}, {"table": "intervals"})
        + _pair("row_equality", "rows", "row_equality", {"tol": eq + 0.5 / union},
                {"tol": eq - 0.5 / union}))

# --------------------------------------------------------------------- curate

GOPHER_STOP = ["the", "and", "of", "to", "in", "a", "is"]
LANG_STOP = {
    "en": ["the", "and", "of", "to", "in", "a", "is"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est", "une"],
    "es": ["el", "los", "que", "y", "es", "una", "para"],
    "zh": ["de", "shi", "le", "bu", "wo", "zai", "you"],
}
_ALNUM = re.compile(rb"[a-zA-Z0-9]+")
_PUNCT = re.compile(r"[.,;:!?'\"()\[\]{}-]")


def normalize(text):
    """Lower-case ASCII alphanumeric runs joined by single spaces."""
    return b" ".join(m.lower() for m in _ALNUM.findall(text.encode("utf-8"))).decode("ascii")


def tokens(text):
    return normalize(text).split(" ")


def gopher_keep(t):
    words = t.split(" ")
    n = len(words)
    ns = max(n, 1)
    mean_chars = sum(len(w) for w in words) / ns
    symbols = (t.count("#") + t.count("...") + t.count("…")) / ns
    lines = t.split("\n")
    nl = max(len(lines), 1)
    bullets = sum(1 for ln in lines if ln.startswith(("-", "*", "•"))) / nl
    ellipses = sum(1 for ln in lines if ln.endswith(("...", "…"))) / nl
    alpha = sum(1 for w in words if re.search("[a-zA-Z]", w)) / ns
    stops = sum(1 for w in GOPHER_STOP if w in words)
    return (50 <= n <= 100000 and 3.0 <= mean_chars <= 10.0 and symbols <= 0.1
            and bullets <= 0.9 and ellipses <= 0.3 and alpha >= 0.8 and stops >= 2)


def lang_id(toks):
    hits = {lang: sum(1 for t in toks if t in set(ws)) for lang, ws in LANG_STOP.items()}
    best = max(hits.values())
    if best == 0:
        return "und"
    return next(lang for lang in ("en", "de", "fr", "es", "zh") if hits[lang] == best)


def quality(t, toks):
    n = max(len(t), 1)
    ntok = len(toks)
    punct = (len(t) - len(_PUNCT.sub("", t))) / n
    digits = sum(1 for ch in t if "0" <= ch <= "9") / n
    stop = sum(1 for x in toks if x in LANG_STOP["en"]) / max(ntok, 1)
    q = (min(ntok / 100.0, 1.0) * 0.4 + min(stop * 5.0, 1.0) * 0.2
         + (1.0 - min(punct * 5.0, 1.0)) * 0.2 + (1.0 - min(digits * 5.0, 1.0)) * 0.2)
    return max(0.0, q)


def shingles(text, k=5):
    b = normalize(text).encode("ascii")
    return {b[i:i + k] for i in range(len(b) - k + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if (a or b) else 0.0


def span_removal(docs, window=8):
    """Excise every token covered by a window that is not the corpus-wide
    first occurrence (ordered by (id, position)) of its token sequence."""
    first = {}
    toks = {i: tokens(t) for i, t in docs}
    for i in sorted(toks):
        tk = toks[i]
        for p in range(len(tk) - window + 1):
            first.setdefault(tuple(tk[p:p + window]), (i, p))
    out = {}
    for i, tk in toks.items():
        covered = [False] * len(tk)
        for p in range(len(tk) - window + 1):
            if first[tuple(tk[p:p + window])] != (i, p):
                for q in range(p, p + window):
                    covered[q] = True
        kept = [t for t, c in zip(tk, covered) if not c]
        if kept:
            out[i] = " ".join(kept)
    return out


def ngrams(toks, n=8):
    return {" ".join(toks[i:i + n]) for i in range(0, max(len(toks) - n, 0) + 1)
            if len(toks[i:i + n]) == n}


def expect_curate(d, truth):
    corpus = pq.read_table(os.path.join(d, "corpus.parquet")).to_pydict()
    docs = [(i, t) for i, t in zip(corpus["id"], corpus["text"]) if t is not None]
    gate = sorted(i for i, t in docs if gopher_keep(t))
    by_fp = {}
    for i, t in docs:
        toks = tokens(t)
        if lang_id(toks) == "en" and round(quality(t, toks), 6) >= 0.55:
            fp = hashlib.md5(normalize(t).encode("ascii")).hexdigest()
            by_fp[fp] = min(i, by_fp.get(fp, i))
    exact = sorted(by_fp.values())

    text_of = dict(docs)
    pairs = {}
    for group in truth["groups"]:
        sh = {i: shingles(text_of[i]) for i in group}
        for x in range(len(group)):
            for y in range(x + 1, len(group)):
                a, b = sorted((group[x], group[y]))
                j = jaccard(sh[a], sh[b])
                if j >= 0.6:
                    pairs[(a, b)] = j
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    components = {x: find(x) for x in list(parent)}

    spans = span_removal(docs)
    ev = pq.read_table(os.path.join(d, "eval.parquet")).to_pydict()
    eval_grams = set()
    for t in ev["text"]:
        eval_grams |= ngrams(tokens(t))
    decontam = {}
    for i, t in docs:
        shared = len(ngrams(tokens(t)) & eval_grams)
        if shared:
            decontam[i] = shared
    return {"gate": gate, "exact": exact, "minhash": pairs, "components": components,
            "spans": spans, "decontam": decontam}

# ------------------------------------------------------------- file formats
#
# Curate stage outputs are exchanged as sorted text lines, one row each:
#   gate, exact   "<id>"
#   minhash       "<id1> <id2> <jaccard>"      (id1 < id2)
#   components    "<id> <label>"
#   spans         "<id>\t<text>"
#   decontam      "<id> <n_shared>"

STAGES = ("gate", "exact", "minhash", "components", "spans", "decontam")


def stage_lines(stage, value):
    if stage in ("gate", "exact"):
        return [str(i) for i in sorted(value)]
    if stage == "minhash":
        return ["%d %d %.6f" % (a, b, j) for (a, b), j in sorted(value.items())]
    fmt = "%d\t%s" if stage == "spans" else "%d %d"
    return [fmt % kv for kv in sorted(value.items())]


def stage_matches(stage, expected_lines, got_lines):
    """True when a recorded stage output equals the expectation; minhash
    Jaccard values may differ in the last printed digit."""
    if stage != "minhash":
        return expected_lines == got_lines
    if len(expected_lines) != len(got_lines):
        return False
    for e, g in zip(expected_lines, got_lines):
        e1, e2, ej = e.split(" ")
        g1, g2, gj = g.split(" ")
        if (e1, e2) != (g1, g2) or abs(float(ej) - float(gj)) > 2e-6:
            return False
    return True


def _fmt(v):
    if isinstance(v, dict):
        return ",".join("%s:%r:%r" % (k, lo, hi) for k, (lo, hi) in sorted(v.items()))
    return repr(v) if isinstance(v, float) else str(v)


def write_expectations(workload, d):
    """Derive the expectations for the inputs in `d` into `d/expect`."""
    out = os.path.join(d, "expect")
    os.makedirs(out, exist_ok=True)
    if workload == "curate":
        with open(os.path.join(d, "truth.json")) as f:
            truth = json.load(f)
        exp = expect_curate(d, truth)
        for stage in STAGES:
            with open(os.path.join(out, stage + ".txt"), "w") as f:
                f.write("\n".join(stage_lines(stage, exp[stage])) + "\n")
        return
    with open(os.path.join(out, "checks.tsv"), "w") as f:
        for c in expect_spec(d):
            fields = [c["name"], c["family"], c["kind"], "1" if c["expect"] else "0"]
            fields += ["%s=%s" % (k, _fmt(v)) for k, v in sorted(c["params"].items())]
            f.write("\t".join(fields) + "\n")


def read_lines(path):
    with open(path) as f:
        return [ln for ln in f.read().split("\n") if ln]


def verify(workload, d, results):
    """Check every operation a run recorded in `results/ops.tsv` against
    the expectations in `d/expect`. An operation fails when it threw or when
    its outcome or output differs; the latter are also counted as wrong.
    Returns (attempted, failed, wrong, problems)."""
    exp_dir = os.path.join(d, "expect")
    problems = []
    attempted = failed = wrong = 0
    if workload == "curate":
        expected = {s: read_lines(os.path.join(exp_dir, s + ".txt")) for s in STAGES}
    else:
        expected = {ln.split("\t")[0]: ln.split("\t")[3] == "1"
                    for ln in read_lines(os.path.join(exp_dir, "checks.tsv"))}
    verdicts = {}
    for ln in read_lines(os.path.join(results, "ops.tsv")):
        pass_no, op, status, value = ln.split("\t")
        attempted += 1
        if status != "ok":
            ok = False
        elif workload == "curate":
            if value not in verdicts:
                got = read_lines(os.path.join(results, "out", value + ".txt"))
                verdicts[value] = stage_matches(op, expected[op], got)
            ok = verdicts[value]
        else:
            ok = (value == "true") == expected[op]
        if not ok:
            failed += 1
            wrong += status == "ok"
            if len(problems) < 20:
                problems.append("pass %s: %s %s %s" % (pass_no, op, status, value))
    return attempted, failed, wrong, problems


def main():
    ap = argparse.ArgumentParser(description="Regenerate inputs for a seed and re-derive "
                                             "the expected outcomes.")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    a = ap.parse_args()
    gen.generate(a.workload, a.seed, a.dir)
    write_expectations(a.workload, a.dir)
    print(os.path.join(a.dir, "expect"))


if __name__ == "__main__":
    main()
