"""Output checks for the benchmark, and the seeded near-duplicate input
generator whose brute-force truth they compare against.

Every check returns a list of problems; an empty list means the output
is correct. The KG checks use the loop-style reference math in
``tests/oracle/reference_math.py``; the dedup/ANN checks recompute the
answer by brute force in numpy/python from the same generated input.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np

SCORE_TOL = 1e-5


# --- KG: sentence decisions and bags ----------------------------------

def instance_item(r) -> dict:
    return {
        "text": r["text"],
        "h": {"pos": [r["h_begin"], r["h_end"]]},
        "t": {"pos": [r["t_begin"], r["t_end"]]},
    }


def oracle_decisions(instances, vocab, W, id2rel, neg_label) -> list[tuple]:
    """(h_id, relation, t_id, score) of every instance whose reference
    decision is not the negative label."""
    from tests.oracle import reference_math as om

    L = int(W["max_length"])
    out = []
    for r in instances:
        rel, score = om.oracle_infer(instance_item(r), vocab, W, id2rel, L)
        if rel != neg_label:
            out.append((r["h_id"], rel, r["t_id"], score))
    return out


def check_triples(rows, decisions, pinned: int | None = None) -> list[str]:
    """Sentence-mode triple table: unique (subj, pred, obj), no negative
    label, and every sampled reference decision present with a max score
    at least the instance's score. ``pinned`` is the exact row count
    expected for this input, when one is known."""
    problems = []
    best: dict[tuple, tuple] = {}
    for r in rows:
        key = (r["subj"], r["pred"], r["obj"])
        if key in best:
            problems.append(f"duplicate triple {key}")
        best[key] = (r["score"], r["n_support"])
        if r["n_support"] < 1:
            problems.append(f"n_support < 1 for {key}")
    if any(k[1] == "NA" for k in best):
        problems.append("negative label emitted")
    for h, rel, t, score in decisions:
        got = best.get((h, rel, t))
        if got is None:
            problems.append(f"missing reference decision {(h, rel, t)}")
        elif got[0] < score - SCORE_TOL:
            problems.append(f"score {got[0]} < reference {score} for {(h, rel, t)}")
    if pinned is not None and len(rows) != pinned:
        problems.append(f"{len(rows)} triples, expected {pinned}")
    return problems


def same_triples(rows, first_rows, label: str = "triples") -> list[str]:
    """A later triple table against the checked first one: the same
    (subj, pred, obj) keys with the same n_support, and scores within
    SCORE_TOL (the kernels' batch-composition jitter)."""
    got = {(r["subj"], r["pred"], r["obj"]): r for r in rows}
    want = {(r["subj"], r["pred"], r["obj"]): r for r in first_rows}
    problems = [] if len(got) == len(rows) else [f"{label}: duplicate triples"]
    problems += check_pairs({k: r["score"] for k, r in got.items()},
                            {k: r["score"] for k, r in want.items()}, SCORE_TOL, label)
    support = [k for k in got.keys() & want.keys()
               if got[k]["n_support"] != want[k]["n_support"]]
    if support:
        problems.append(f"{label}: {len(support)} n_support differ, e.g. {support[:3]}")
    return problems


def oracle_bags(bag_instances: dict, vocab, W) -> dict:
    """{(h_id, t_id): (att_scores (N,), one_scores (N,), size)} from the
    reference bag aggregators over each bag's full member list."""
    from tests.oracle import reference_math as om

    L = int(W["max_length"])
    pad, unk = vocab["[PAD]"], vocab["[UNK]"]
    out = {}
    for pair, members in bag_instances.items():
        reps = np.concatenate([
            om.oracle_cnn_rep(om.oracle_encode(instance_item(r), vocab, L, pad, unk), W)
            for r in members
        ]).astype(np.float32)
        probs = om.oracle_softmax(reps @ W["fc_w"].T + W["fc_b"])
        out[pair] = (om.oracle_bag_att(reps, W), om.oracle_bag_one(probs), len(members))
    return out


def check_bag_rows(rows, expected: dict, id2rel, neg_label, threshold) -> list[str]:
    """Bag-mode triples for the sampled entity pairs: the relations at or
    above the threshold, their scores and the bag size must match the
    reference. Relations within SCORE_TOL of the threshold may go either
    way."""
    problems = []
    got: dict[tuple, dict] = {}
    for r in rows:
        pair = (r["subj"], r["obj"])
        if pair in expected:
            got.setdefault(pair, {})[r["pred"]] = (r["score"], r["n_support"])
    for pair, (scores, size) in expected.items():
        have = got.get(pair, {})
        for rel_id, s in enumerate(scores):
            rel = id2rel[rel_id]
            if rel == neg_label:
                continue
            hit = have.get(rel)
            if abs(s - threshold) <= SCORE_TOL:
                continue
            if s >= threshold and hit is None:
                problems.append(f"missing bag row {pair} {rel} (ref {s:.6f})")
            elif s < threshold and hit is not None:
                problems.append(f"extra bag row {pair} {rel} (ref {s:.6f})")
            elif hit is not None:
                if abs(hit[0] - s) > SCORE_TOL:
                    problems.append(f"bag score {hit[0]} != ref {s} for {pair} {rel}")
                if hit[1] != size:
                    problems.append(f"bag size {hit[1]} != {size} for {pair}")
    return problems


# --- near-duplicate documents and vectors ------------------------------

def make_near_dup_inputs(seed: int, n_docs: int, n_vecs: int, dim: int,
                         dup_share: float = 0.1):
    """Seeded documents and unit vectors with planted duplicates.

    Documents: 20-40 words from a 3,000-word vocabulary. ``dup_share``
    of the base documents each get one planted copy, cycling through an
    exact copy, a near-duplicate (one word replaced) and a perturbed
    copy (a quarter of the words replaced, usually below the
    thresholds). Vectors: Gaussian unit vectors in ``dim`` dimensions,
    with the same share planted as exact copies, near copies (cosine
    about 0.997) and perturbed copies (cosine about 0.7, below the 0.85
    threshold).
    Returns (docs [(doc_id, text)], vecs [(vec_id, [float])]).
    """
    rng = random.Random(seed)
    vocab = [f"w{i:04d}" for i in range(3000)]
    n_base = int(n_docs / (1 + dup_share))
    docs = []
    for i in range(n_base):
        n = rng.randint(20, 40)
        docs.append([vocab[int(rng.random() ** 1.5 * len(vocab))] for _ in range(n)])
    for k, src in enumerate(rng.sample(range(n_base), n_docs - n_base)):
        words = list(docs[src])
        if k % 3 == 1:
            words[rng.randrange(len(words))] = rng.choice(vocab)
        elif k % 3 == 2:
            for j in rng.sample(range(len(words)), len(words) // 4):
                words[j] = rng.choice(vocab)
        docs.append(words)
    doc_rows = [(i, " ".join(w)) for i, w in enumerate(docs)]

    nrng = np.random.default_rng(seed)
    n_vbase = int(n_vecs / (1 + dup_share))
    base = nrng.standard_normal((n_vbase, dim))
    extra = []
    for k, src in enumerate(nrng.choice(n_vbase, n_vecs - n_vbase, replace=False)):
        scale = (0.0, 0.08, 1.0)[k % 3]
        noise = nrng.standard_normal(dim) * np.linalg.norm(base[src]) / np.sqrt(dim)
        extra.append(base[src] + scale * noise)
    vecs = np.concatenate([base, np.array(extra).reshape(-1, dim)])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vec_rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return doc_rows, vec_rows


def _tokens(text: str) -> list[str]:
    # the generator emits single-space-separated lowercase ASCII words,
    # for which this equals Spark's split(lower(trim(text)), '\\s+')
    return text.lower().split(" ")


def simhash_md5(text: str) -> int:
    """64-bit SimHash with the md5 token hash, as a signed long: bit
    b < 32 votes with bit b of the digest's first 32-bit word, bit
    b >= 32 with bit b-32 of the second."""
    votes = np.zeros(64, dtype=np.int64)
    bits = np.arange(32, dtype=np.uint64)
    for tok in _tokens(text):
        hx = hashlib.md5(tok.encode()).hexdigest()
        wa, wb = np.uint64(int(hx[:8], 16)), np.uint64(int(hx[8:16], 16))
        word = np.concatenate([(wa >> bits) & np.uint64(1), (wb >> bits) & np.uint64(1)])
        votes += np.where(word == 1, 1, -1)
    v = sum(1 << b for b in range(64) if votes[b] > 0)
    return v - (1 << 64) if v >= 1 << 63 else v


def simhash_pairs_truth(docs, max_hamming: int) -> dict:
    ids = np.array([d for d, _ in docs])
    sh = np.array([simhash_md5(t) for _, t in docs], dtype=np.int64).view(np.uint64)
    out = {}
    for i in range(len(ids)):
        x = sh[i] ^ sh[i + 1:]
        ham = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
        for j in np.nonzero(ham <= max_hamming)[0]:
            a, b = int(ids[i]), int(ids[i + 1 + j])
            out[(min(a, b), max(a, b))] = int(ham[j])
    return out


def shingles(text: str, n: int) -> set:
    toks = _tokens(text)
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def jaccard_pairs_truth(docs, threshold: float, n: int) -> dict:
    sh = {d: shingles(t, n) for d, t in docs}
    index: dict[str, list] = {}
    for d, s in sh.items():
        for x in s:
            index.setdefault(x, []).append(d)
    cand = set()
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                cand.add((min(a, b), max(a, b)))
    out = {}
    for a, b in cand:
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def cosine_pairs_truth(vecs, threshold: float) -> dict:
    ids = np.array([v for v, _ in vecs])
    m = np.array([e for _, e in vecs])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    out = {}
    for i, j in zip(*np.nonzero(np.triu(cos >= threshold, k=1))):
        a, b = int(ids[i]), int(ids[j])
        out[(min(a, b), max(a, b))] = float(cos[i, j])
    return out


def components_truth(ids, pairs) -> dict:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check_pairs(got: dict, want: dict, tol: float, label: str) -> list[str]:
    """Exact pair-set equality, values within ``tol``."""
    problems = []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing:
        problems.append(f"{label}: {len(missing)} pairs missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{label}: {len(extra)} extra pairs, e.g. {sorted(extra)[:3]}")
    bad = [k for k in want.keys() & got.keys() if abs(got[k] - want[k]) > tol]
    if bad:
        problems.append(f"{label}: {len(bad)} pair values off, e.g. {bad[:3]}")
    return problems


def check_clusters(got: dict, want: dict) -> list[str]:
    if got.keys() != want.keys():
        return [f"clusters: {len(want.keys() ^ got.keys())} ids differ"]
    bad = [i for i in want if got[i] != want[i]]
    return [f"clusters: {len(bad)} ids in the wrong cluster, e.g. {bad[:3]}"] if bad else []
