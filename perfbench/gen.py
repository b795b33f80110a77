"""Seeded input generator for the benchmark.

Every input the engine sees comes from here:

* ``tables``: the TPC-H-ish parquet fixtures (plus ``events``,
  ``documents`` and ``embeddings``) that the registry queries read. They
  use the same schemas and value domains as the engine's test fixtures.
  They are generated from a fixed seed, because the expected result
  digests in ``expected.json`` are taken over them.
* ``corpora``: ``reference_pipeline`` inputs. These are directories of
  ``<docId>.txt`` files, each with its own ``stopwords.txt`` and
  ``centers.txt``.
* ``stream``: the stream probe's document stream, plus a ground-truth
  list of the exact and near-duplicate re-posts injected into it.
* ``order``: the per-pass query order of ``driver_loops``.

The same seed always gives byte-identical inputs. ``self_check`` asserts
that by generating twice and comparing digests.

Run ``python3 perfbench/gen.py --check`` to run the self-check alone.
"""
import argparse
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLE_FORMAT = 2  # bump when the table generator changes; expected.json depends on it

# ---------------------------------------------------------------- tables

DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng, n, lo, hi):
    """n timestamps at midnight, uniform over [lo, hi] days after 1995-01-01."""
    d = rng.integers(lo, hi + 1, n)
    return EPOCH_1995 + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, vals, n, p=None):
    return np.asarray(vals, dtype=object)[rng.choice(len(vals), n, p=p)]


def _write(table, path):
    # one file, one row group: the layout of the engine's own fixtures
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def tables(out_dir, sf):
    """Writes the ten fixture tables for scale factor ``sf`` into out_dir."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    n_line = max(6000, int(6000000 * sf))
    n_ev = max(1000, int(1000000 * sf))
    n_users = max(50, int(15000 * sf))
    n_docs = max(100, int(50000 * sf))
    n_emb = max(100, int(20000 * sf))
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def t(cols):
        return pa.table({k: pa.array(v, type=ty) for k, (v, ty) in cols.items()})

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(t({"r_regionkey": (np.arange(5), i32), "r_name": (regions, s)}),
           f"{out_dir}/region.parquet")
    _write(t({"n_nationkey": (np.arange(25), i32),
              "n_name": ([f"NATION_{i}" for i in range(25)], s),
              "n_regionkey": (np.arange(25) % 5, i32)}), f"{out_dir}/nation.parquet")
    _write(t({"c_custkey": (np.arange(n_cust), i64),
              "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
              "c_nationkey": (rng.integers(0, 25, n_cust), i32),
              "c_acctbal": (_money(rng, n_cust, -999.99, 9999.99), f64),
              "c_mktsegment": (_pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"], n_cust), s)}),
           f"{out_dir}/customer.parquet")
    _write(t({"s_suppkey": (np.arange(n_supp), i64),
              "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
              "s_nationkey": (rng.integers(0, 25, n_supp), i32),
              "s_acctbal": (_money(rng, n_supp, -999.99, 9999.99), f64)}),
           f"{out_dir}/supplier.parquet")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(t({"p_partkey": (np.arange(n_part), i64),
              "p_name": (_pick(rng, names, n_part), s),
              "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
              "p_type": (_pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                     "STANDARD"], n_part), s),
              "p_size": (rng.integers(1, 51, n_part), i32),
              "p_retailprice": (900.0 + (np.arange(n_part) % 1000) / 10.0, f64)}),
           f"{out_dir}/part.parquet")
    _write(t({"o_orderkey": (np.arange(n_ord), i64),
              "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
              "o_orderstatus": (_pick(rng, ["F", "O", "P"], n_ord), s),
              "o_totalprice": (_money(rng, n_ord, 1000.0, 500000.0), f64),
              "o_orderdate": (_days(rng, n_ord, 0, 2404), ts),
              "o_orderpriority": (_pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"], n_ord), s)}),
           f"{out_dir}/orders.parquet")
    _write(t({"l_orderkey": (rng.integers(0, n_ord, n_line), i64),
              "l_partkey": (rng.integers(0, n_part, n_line), i64),
              "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
              "l_linenumber": (rng.integers(1, 8, n_line), i32),
              "l_quantity": (rng.integers(1, 51, n_line).astype(float), f64),
              "l_extendedprice": (_money(rng, n_line, 900.0, 105000.0), f64),
              "l_discount": (rng.integers(0, 11, n_line) / 100.0, f64),
              "l_tax": (rng.integers(0, 9, n_line) / 100.0, f64),
              "l_returnflag": (_pick(rng, ["A", "N", "R"], n_line), s),
              "l_linestatus": (_pick(rng, ["F", "O"], n_line), s),
              "l_shipdate": (_days(rng, n_line, 1, 2499), ts)}),
           f"{out_dir}/lineitem.parquet")
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ev_ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("int64").astype("timedelta64[us]")
    _write(t({"event_id": (np.arange(n_ev), i64), "ts": (ev_ts, ts),
              "user_id": (rng.integers(0, n_users, n_ev), i64),
              "event_type": (_pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev), s),
              "value": (np.round(rng.exponential(50.0, n_ev), 2), f64),
              "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)}),
           f"{out_dir}/events.parquet")
    words = np.array(DOC_WORDS + ["dup"], dtype=object)
    wp = np.full(len(words), 0.999 / len(DOC_WORDS))
    wp[-1] = 0.001
    texts = []
    for _ in range(n_docs):
        texts.append(" ".join(words[rng.choice(len(words), rng.integers(10, 101), p=wp)]))
    for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False):
        texts[i] = texts[(i + 1) % n_docs]  # a few exact duplicate texts
    _write(t({"doc_id": (np.arange(n_docs), i64), "text": (texts, s),
              "lang": (_pick(rng, ["en", "zh", "es", "fr", "de"], n_docs,
                             p=[0.41, 0.15, 0.15, 0.15, 0.14]), s),
              "source": ([f"src{i % 20}" for i in range(n_docs)], s),
              "n_chars": ([len(x) for x in texts], i64)}), f"{out_dir}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    cents = rng.normal(0.0, 1.0, (10, 64))
    vecs = cents[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(t({"vec_id": (np.arange(n_emb), i64),
              "embedding": ([list(v) for v in vecs], pa.list_(pa.float32())),
              "label": (labels, i32)}), f"{out_dir}/embeddings.parquet")


# ------------------------------------------------------ reference corpora

STOPWORDS = ("a an and are as at be by for from has he in is it its of on "
             "that the to was were will with").split()
SUFFIXES = ["", "s", "es", "ed", "ing", "ings", "ies", "ation", "ations", "ness",
            "ful", "ly", "ment", "ments", "er", "ers", "ize", "izes", "al", "ive"]
ONSETS = "b c d f g h j k l m n p r s t v w br cr dr fl gr pl pr st tr".split()
VOWELS = "a e i o u ai ea io ou".split()
CODAS = ["", "n", "r", "t", "l", "m", "st", "nd", "rk", "ck"]


def _pseudo_stems(rng, n):
    seen, out = set(), []
    while len(out) < n:
        syl = int(rng.integers(1, 4))
        w = "".join(ONSETS[rng.integers(len(ONSETS))] + VOWELS[rng.integers(len(VOWELS))]
                    + CODAS[rng.integers(len(CODAS))] for _ in range(syl))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def corpus(out_dir, rng, n_docs, words_per_doc, vocab, k, punct_share, stop_share):
    """One reference corpus: <docId>.txt files 1..n_docs under out_dir/docs."""
    docs = f"{out_dir}/docs"
    os.makedirs(docs)
    ranks = np.arange(1, len(vocab) + 1)
    zipf = 1.0 / ranks ** 1.1
    zipf /= zipf.sum()
    punct = list(".,;:!?\"'()-")
    for d in range(1, n_docs + 1):
        n = int(rng.integers(words_per_doc // 2, words_per_doc * 3 // 2 + 1))
        idx = rng.choice(len(vocab), n, p=zipf)
        toks = []
        for i in idx:
            r = rng.random()
            if r < stop_share:
                w = STOPWORDS[rng.integers(len(STOPWORDS))]
            else:
                w = vocab[i]
            if rng.random() < punct_share:
                w = w + punct[rng.integers(len(punct))]
            if rng.random() < 0.05:
                w = w.capitalize()
            toks.append(w)
        with open(f"{docs}/{d}.txt", "w") as f:
            for j in range(0, len(toks), 12):
                f.write(" ".join(toks[j:j + 12]) + "\n")
    with open(f"{out_dir}/stopwords.txt", "w") as f:
        f.write(" ".join(STOPWORDS) + "\n")
    # dense positive real-valued centers: exact cosine ties are impossible
    with open(f"{out_dir}/centers.txt", "w") as f:
        for _ in range(k):
            c = np.round(rng.uniform(0.05, 1.0, n_docs), 3)
            f.write("[" + ",".join(f"{x:.3f}" for x in c) + ",]\n")


def corpora(out_dir, seed, count, lo, hi, words_per_doc=60, k=5):
    """``count`` corpora under out_dir/c<i>; returns their specs.

    Corpus sizes step evenly from lo to hi docs, in a seeded order: sizes
    vary from corpus to corpus, and every seed asks for the same work.
    """
    rng = np.random.default_rng([seed, 1])
    stems = _pseudo_stems(rng, 1500)
    vocab = [st + SUFFIXES[rng.integers(len(SUFFIXES))] for st in stems for _ in range(2)]
    vocab = list(dict.fromkeys(vocab))
    rng.shuffle(vocab)
    sizes = rng.permutation(np.linspace(lo, hi, count).round().astype(int))
    specs = []
    for i, n_docs in enumerate(sizes):
        d = f"{out_dir}/c{i}"
        corpus(d, rng, int(n_docs), words_per_doc, vocab, k,
               punct_share=0.15, stop_share=0.25)
        specs.append({"dir": d, "docs": int(n_docs), "k": k})
    return specs


# -------------------------------------------------------- document stream

def stream(out_path, seed, n_docs, exact_share=0.08, near_share=0.08):
    """A document stream (doc_id, ts_ms, text) with injected re-posts.

    Writes JSON lines to out_path and returns the ground truth:
    ``exact`` maps each exact re-post's doc_id to its original's doc_id,
    ``near`` does the same for near-duplicates (a few words changed).
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _pseudo_stems(rng, 4000)
    ranks = np.arange(1, len(vocab) + 1)
    zipf = 1.0 / ranks ** 0.9
    zipf /= zipf.sum()
    rows, exact, near = [], {}, {}
    originals = []
    for doc_id in range(n_docs):
        r = rng.random()
        if originals and r < exact_share:
            src = originals[rng.integers(len(originals))]
            text = rows[src][2]
            exact[doc_id] = src
        elif originals and r < exact_share + near_share:
            src = originals[rng.integers(len(originals))]
            toks = rows[src][2].split(" ")
            for j in rng.choice(len(toks), max(1, len(toks) // 25), replace=False):
                toks[j] = vocab[rng.integers(len(vocab))]
            text = " ".join(toks)
            near[doc_id] = src
        else:
            n = int(rng.integers(40, 120))
            text = " ".join(vocab[i] for i in rng.choice(len(vocab), n, p=zipf))
            originals.append(doc_id)
        rows.append((doc_id, 1_700_000_000_000 + doc_id * 100, text))
    # a near-dup can repeat its source verbatim when the swaps hit the
    # same word; count it as exact then, so the ground truth stays exact
    texts = {}
    for doc_id, _, text in rows:
        if doc_id in near and text in texts:
            exact[doc_id] = near.pop(doc_id)
        texts.setdefault(text, doc_id)
    with open(out_path, "w") as f:
        for doc_id, ts, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "ts_ms": ts, "text": text}) + "\n")
    return {"exact": {str(k): v for k, v in exact.items()},
            "near": {str(k): v for k, v in near.items()}}


# ------------------------------------------------------------ query order

def order(seed, names, passes):
    """Per-pass seeded permutations of the query names."""
    rng = np.random.default_rng([seed, 3])
    names = sorted(names)
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]


# ------------------------------------------------------------- self-check

def tree_digest(root):
    """sha256 over every file's relative path and bytes under root."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def self_check(scratch, seed):
    """Generates every kind of input twice and asserts byte-identity."""
    digests = []
    for rep in range(2):
        d = f"{scratch}/selfcheck{rep}"
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        tables(f"{d}/t", 0.001)
        corpora(f"{d}/c", seed, 2, 20, 40)
        truth = stream(f"{d}/s.jsonl", seed, 300)
        with open(f"{d}/truth.json", "w") as f:
            json.dump(truth, f, sort_keys=True)
        with open(f"{d}/order.json", "w") as f:
            json.dump(order(seed, ["x", "y", "z"], 2), f)
        digests.append(tree_digest(d))
        shutil.rmtree(d)
    if digests[0] != digests[1]:
        raise SystemExit(f"generator is not deterministic for seed {seed}: {digests}")
    return digests[0]


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true", help="run the determinism self-check")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scratch", default=".bench_build/gen-check")
    a = ap.parse_args()
    if a.check:
        print(self_check(a.scratch, a.seed))
