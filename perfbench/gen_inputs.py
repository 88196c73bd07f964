"""Seeded input generation for the three benchmark workloads.

Every function writes its inputs under `out` from `seed` alone: the same
seed and sizes give byte-identical data. Sizes come from run.py.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["the", "fast", "key", "order", "sort", "table", "scan", "merge",
         "part", "window", "small", "hash", "join", "spark", "group", "query",
         "row", "data", "slow", "filter", "customer", "line", "batch", "value",
         "a", "of", "and", "to", "in", "is", "vector", "column", "agg",
         "stream", "big"]
DIM = 64


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _texts(rng, n):
    lens = rng.integers(5, 120, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # exact duplicates on purpose: the exact-dedup path
    for i in range(0, n - 1, 17):
        texts[i + 1] = texts[i]
    return texts


def _unit(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float64)
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_col(vecs):
    return pa.array(list(vecs), pa.list_(pa.float32()))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, y0="1995-01-01", y1="2001-12-31"):
    lo = np.datetime64(y0, "D").astype(np.int64)
    hi = np.datetime64(y1, "D").astype(np.int64)
    days = rng.integers(lo, hi, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def tables(out, seed, n_li, n_docs, n_emb):
    """The catalog's ten base tables, shaped like the sf testdata: row
    counts in the sf ratios for `n_li` lineitems, `n_docs` documents and
    `n_emb` 64-dimensional unit embeddings.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_r, n_n = 5, 25
    n_c, n_s, n_p = max(50, n_li // 40), max(10, n_li // 600), max(60, n_li // 30)
    n_o, n_e = max(300, n_li // 4), max(400, n_li // 6)
    pick = lambda xs, n: np.array(xs)[rng.integers(0, len(xs), n)]
    words = lambda k, n: [" ".join(pick(WORDS, k)) for _ in range(n)]
    _write(out, "region", {"r_regionkey": pa.array(range(n_r), pa.int32()),
                           "r_name": [f"REGION_{i}" for i in range(n_r)]})
    _write(out, "nation", {"n_nationkey": pa.array(range(n_n), pa.int32()),
                           "n_name": [f"NATION_{i:02d}" for i in range(n_n)],
                           "n_regionkey": pa.array(rng.integers(0, n_r, n_n), pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, n_n, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_c),
        "c_mktsegment": pick(["AUTO", "BLDG", "FURN", "HSHLD", "MACH"], n_c)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:04d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, n_n, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_s)})
    _write(out, "part", {
        "p_partkey": pa.array(range(n_p), pa.int64()),
        "p_name": words(4, n_p),
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_p, 2))],
        "p_type": [w.upper() for w in words(3, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": _money(rng, 900, 2000, n_p)})
    # some customers never order: the anti-join path
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, int(n_c * 0.9), n_o), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000, 500000, n_o),
        "o_orderdate": _dates(rng, n_o),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_o)})
    # duplicate (orderkey, linenumber) pairs on purpose, as in the testdata
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_o, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 90 * 24 * 3600 * 10**6, n_e)) + t0
    _write(out, "events", {
        "event_id": pa.array(range(n_e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, n_e // 50), n_e), pa.int64()),
        "event_type": pick(["view", "click", "purchase", "signup", "error"], n_e),
        "value": _money(rng, 0, 200, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    texts = _texts(rng, n_docs)
    _write(out, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": pick(["en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    _write(out, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": _emb_col(_unit(rng, n_emb)),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


STOPWORDS = ["the", "of", "and", "to", "in", "is", "a", "for", "on", "with"]


def _vocab(rng, n=4000):
    """Pseudo-words of 3 to 9 letters, drawn with weights 1/sqrt(rank)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = ["".join(letters[rng.integers(0, 26, k)]) for k in rng.integers(3, 10, n)]
    weights = 1.0 / np.sqrt(np.arange(1, n + 1))
    return np.array(words), weights / weights.sum()


def _prose(rng, vocab, k):
    """`k` tokens of gate-passing prose: one stopword in eight."""
    words, p = vocab
    toks = words[rng.choice(len(words), k, p=p)]
    stops = rng.random(k) < 0.125
    toks[stops] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), stops.sum())]
    return " ".join(toks)


# The stream's mix, the same in every wave and under every seed.
EMB_SHARE = 0.4     # documents that carry an embedding
LATE_SHARE = 0.25   # of those, the ones whose embedding arrives late
TWIN_SHARE = 0.04   # planted semantic twins of earlier on-time embeddings
COPY_SHARE = 0.02   # planted exact copies of earlier on-time embeddings
LATE_TWIN_SHARE = 0.02  # planted copies and twins of this wave's late embeddings
DUP_EVERY = 17      # every 17th document repeats an earlier one exactly
NEAR_EVERY = 23     # every 23rd repeats the one before with two words changed


def _twin(v, j):
    """An exact copy of `v` for even `j`, a semantic twin (one component
    nudged by 0.1%) for odd `j`."""
    v = v.copy()
    if j % 2:
        v[0] = np.float32(v[0] * 1.001)
    return v


def stream(out, seed, waves, wave_docs):
    """The curation stream: `waves` waves of `wave_docs` organic documents,
    with the mix above:

    - exact and near repeats of earlier documents (the dedup paths);
    - an EMB_SHARE of documents carries a 64-dimensional embedding and a
      LATE_SHARE of those gets it only in the late pass;
    - from the second wave on, each wave adds planted semantic twins (an
      earlier on-time embedding nudged by 0.1% in one component) and exact
      embedding copies, both with fresh text, as in `q_unified_curation`:
      decide finds them in the store;
    - each wave adds on-time copies and twins of its own late embeddings,
      with fresh text and higher ids: the late pass evicts them from the
      store when the earlier document's embedding arrives.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    os.makedirs(out, exist_ok=True)
    ids, texts, wave_of, late, emb_ids, embs = [], [], [], [], [], []
    on_time = []  # (doc_id, vector) of earlier waves' on-time embeddings
    n_emb = int(wave_docs * EMB_SHARE)
    n_late = int(n_emb * LATE_SHARE)
    n_twin, n_copy = int(wave_docs * TWIN_SHARE), int(wave_docs * COPY_SHARE)
    n_late_twin = int(wave_docs * LATE_TWIN_SHARE)

    def plant(w, v):
        d = len(ids)
        ids.append(d); texts.append(_prose(rng, vocab, 60)); wave_of.append(w)
        late.append(False); emb_ids.append(d); embs.append(v)

    for w in range(waves):
        base = len(ids)
        wave_texts = [_prose(rng, vocab, k) for k in rng.integers(40, 160, wave_docs)]
        for j in range(wave_docs):
            if j and j % DUP_EVERY == 0:
                wave_texts[j] = texts[rng.integers(0, base)] if base else wave_texts[j - 1]
            elif j and j % NEAR_EVERY == 0:
                toks = wave_texts[j - 1].split(" ")
                for k in rng.integers(0, len(toks), 2):
                    toks[k] = "edit"
                wave_texts[j] = " ".join(toks)
        order = rng.permutation(wave_docs)
        has_emb, is_late = set(order[:n_emb].tolist()), set(order[:n_late].tolist())
        vecs = _unit(rng, wave_docs)
        for j in range(wave_docs):
            d = base + j
            ids.append(d); texts.append(wave_texts[j]); wave_of.append(w)
            late.append(j in is_late)
            if j in has_emb:
                emb_ids.append(d); embs.append(vecs[j])
        if on_time:
            src = rng.choice(len(on_time), n_twin + n_copy, replace=False)
            for j, k in enumerate(src):
                plant(w, _twin(on_time[k][1], 1 if j < n_twin else 0))
        for j, k in enumerate(order[:n_late_twin]):
            plant(w, _twin(vecs[k], j))
        on_time += [(base + j, vecs[j]) for j in has_emb if j not in is_late]
    _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()), "text": texts,
        "lang": ["en"] * len(ids), "source": ["stream"] * len(ids),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    _write(out, "embeddings", {
        "vec_id": pa.array(emb_ids, pa.int64()), "embedding": _emb_col(embs),
        "label": pa.array([0] * len(emb_ids), pa.int32())})
    _write(out, "plan", {"doc_id": pa.array(ids, pa.int64()),
                         "wave": pa.array(wave_of, pa.int32()),
                         "late": pa.array(late, pa.bool_())})


def ice(out, seed, specimens, grains, samples, iterations, particles, steps):
    """Specimen configs (mesh seed and sizes, then a solid rotating through
    box, sphere and z-cylinder, starting at `seed % 3`, with a seeded
    centre) and one snapshot
    series of `particles` x `steps` frames, 250 steps apart.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    lines = []
    for k in range(specimens):
        mesh_seed = int(rng.integers(1, 1 << 31))
        cx, cy = (100 + rng.uniform(-10, 10, 2)).round(3)
        solid = ["box %s %s %s %s 0 25" % (cx - 50, cx + 50, cy - 50, cy + 50),
                 "sphere %s %s 12.5 60" % (cx, cy),
                 "cylinder %s %s 0 25 60" % (cx, cy)][(seed + k) % 3]
        lines.append(f"{mesh_seed} {grains} 200 200 {iterations} {samples} {solid}")
    with open(os.path.join(out, "specimens.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    disp = np.cumsum(rng.normal(0, 1e-3, (steps, particles, 3)), axis=0).astype(np.float32)
    flag = (rng.random((steps, particles)) < 0.05).astype(np.float32)
    _write(out, "snapshots", {
        "step": pa.array(np.repeat(np.arange(steps, dtype=np.int64) * 250, particles)),
        "particle_id": pa.array(np.tile(np.arange(particles, dtype=np.int64), steps)),
        "ux": disp[:, :, 0].ravel(), "uy": disp[:, :, 1].ravel(),
        "uz": disp[:, :, 2].ravel(), "flag": flag.ravel()})
