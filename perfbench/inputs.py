"""Seeded inputs for the three workloads, and the facts the checks need.

Every function takes a numpy Generator made from the run's seed, writes its
inputs under a directory, and returns what the checker must know about
them (ground truth, planted duplicates, query rounds). The same seed gives
the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- seis_build
NGLL_LOCAL = 125
INDEX27 = [(k * 5 + j) * 5 + i for k in (0, 2, 4) for j in (0, 2, 4) for i in (0, 2, 4)]
FORCES = ("N", "E", "Z")
SEIS_NSPEC = 60           # elements of the fixture
SEIS_STEPS = 16           # snapshots per force
SEIS_DSTEP = 10
POINT_READS = 240         # point-read sequence length (cycled by the harness)


def _fortran(path, records):
    """Fortran unformatted sequential file: per record a little-endian int32
    length marker, the payload, and the marker again."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        for rec in records:
            b = np.ascontiguousarray(rec).tobytes()
            m = np.int32(len(b)).tobytes()
            f.write(m + b + m)


def _ibool(rng, nspec):
    """1-based global ids: adjacent elements share a face, and about one
    point in fifty repeats an earlier id (some below the running maximum)."""
    ids = np.zeros(nspec * NGLL_LOCAL, dtype=np.int32)
    nxt = 1
    repeat = rng.random(ids.size) < 0.02
    pick = rng.random(ids.size)
    for idx in range(ids.size):
        spec, p = divmod(idx, NGLL_LOCAL)
        if spec > 0 and p < 25:
            ids[idx] = ids[(spec - 1) * NGLL_LOCAL + 100 + p]
        else:
            ids[idx] = nxt
            nxt += 1
        if repeat[idx] and idx > 0:
            ids[idx] = ids[int(pick[idx] * idx)]
    return ids


def kept_points(ids, nspec):
    """The 27-point subsample with monotone first-occurrence dedup: scan
    spec-major, then INDEX27 order, keep a point only when its 0-based gll
    exceeds every gll kept before it. Returns [(spec, igll, gll)]."""
    out, best = [], -1
    for spec in range(nspec):
        for p in INDEX27:
            g = int(ids[spec * NGLL_LOCAL + p]) - 1
            if g > best:
                best = g
                out.append((spec, p, g))
    return out


def _signals(rng, shape, steps, dt=0.05):
    """Damped sinusoids plus a little noise, amplitude ~1e-7, one series per
    index of `shape`: returns float32 of shape (len(steps),) + shape."""
    t = np.asarray(steps, dtype=np.float64)[:, None] * dt
    n = int(np.prod(shape))
    out = np.zeros((len(steps), n))
    for _ in range(3):
        amp = rng.uniform(0.2, 1.0, n) * 1e-7
        freq = rng.uniform(0.2, 2.0, n)
        damp = rng.uniform(0.05, 0.6, n)
        phase = rng.uniform(0, 2 * np.pi, n)
        out += amp * np.exp(-damp * t) * np.sin(2 * np.pi * freq * t + phase)
    out += rng.normal(0, 2e-10, out.shape)
    return out.reshape((len(steps),) + tuple(shape)).astype(np.float32)


def seis_fixture(rng, root, nspec, nsteps):
    """SPECFEM-layout fixture: force_{N,E,Z}/proc000000_{strain_field,disp}_
    Step_<k>.bin and proc000000_ibool.bin. Returns the ground truth as the
    reader reconstructs it, in float32."""
    ids = _ibool(rng, nspec)
    _fortran(f"{root}/proc000000_ibool.bin", [ids])
    npts = nspec * NGLL_LOCAL
    nglob = int(ids.max())
    steps = [k * SEIS_DSTEP for k in range(nsteps)]
    # strain[force, step, param, point]; disp[force, step, gll, comp]
    strain = np.stack([_signals(rng, (6, npts), steps) for _ in FORCES])
    disp = np.stack([_signals(rng, (nglob, 3), steps) for _ in FORCES])
    recon = np.empty_like(strain)
    for fi, f in enumerate(FORCES):
        for si, step in enumerate(steps):
            xx, yy, zz, xy, xz, yz = strain[fi, si]
            tr = xx + yy + zz
            xxd = xx - tr / np.float32(3)
            yyd = yy - tr / np.float32(3)
            _fortran(f"{root}/force_{f}/proc000000_strain_field_Step_{step}.bin",
                     [tr, xxd, yyd, xy, xz, yz])
            _fortran(f"{root}/force_{f}/proc000000_disp_Step_{step}.bin",
                     [disp[fi, si].reshape(-1)])
            rx = xxd + tr / np.float32(3)
            ry = yyd + tr / np.float32(3)
            recon[fi, si] = (rx, ry, tr - rx - ry, xy, xz, yz)
    return {"ids": ids, "nspec": nspec, "steps": steps, "strain": recon, "disp": disp}


def seis(rng, root):
    truth = seis_fixture(rng, f"{root}/fixture", SEIS_NSPEC, SEIS_STEPS)
    kept = kept_points(truth["ids"], SEIS_NSPEC)
    seq = [int(g) for g in rng.choice([g for _, _, g in kept], POINT_READS)]
    with open(f"{root}/points.txt", "w") as f:
        f.write("\n".join(map(str, seq)) + "\n")
    truth["kept"] = kept
    truth["points"] = seq
    return truth


# ----------------------------------------------------------- corpus_curation
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS, LANG_P = ("en", "zh", "es", "fr", "de"), (0.4, 0.15, 0.15, 0.15, 0.15)
CORPUS_DOCS = 5000        # the sf0.1 corpus size and make-up
CORPUS_EMB = 2000
PLANTED_NEAR = 100        # copies of a sampled document with two words changed
PLANTED_EXACT = 20        # verbatim copies


def _write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-0.parquet")


def _docs_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()), "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _emb_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def _unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def corpus(rng, root):
    """A word-bag corpus with the sf0.1 corpus's make-up (30-word vocabulary,
    10-100 words, five languages, twenty sources) plus planted near and exact
    duplicates. Embeddings cover ids below CORPUS_EMB and every planted copy,
    which sits next to its source's embedding."""
    n = CORPUS_DOCS
    words = [list(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n)]
    langs = list(rng.choice(LANGS, n, p=LANG_P))
    sources = [f"src{i % 20}" for i in range(n)]
    labels = rng.integers(0, 10, CORPUS_EMB)
    centers = rng.normal(0, 1, (10, 64))
    emb = _unit(0.5 * centers[labels] + rng.normal(0, 1, (CORPUS_EMB, 64)))

    ids, texts = list(range(n)), [" ".join(w) for w in words]
    emb_ids, emb_vecs, emb_labels = list(range(CORPUS_EMB)), [emb], list(labels)
    long_docs = [i for i in range(CORPUS_EMB) if len(words[i]) >= 60]
    srcs = rng.choice(long_docs, PLANTED_NEAR + PLANTED_EXACT, replace=False)
    near, exact = [], []
    for j, src in enumerate(srcs):
        src = int(src)
        copy = n + j
        w = list(words[src])
        if j < PLANTED_NEAR:
            for pos in rng.choice(len(w), 2, replace=False):
                w[pos] = rng.choice([x for x in WORDS if x != w[pos]])
            near.append((src, copy))
            vec = _unit(emb[src] + rng.normal(0, 0.01, 64))
        else:
            exact.append((src, copy))
            vec = emb[src]
        ids.append(copy)
        texts.append(" ".join(w))
        langs.append(langs[src])
        sources.append(sources[src])
        emb_ids.append(copy)
        emb_vecs.append(vec[None, :])
        emb_labels.append(labels[src])
    _write(f"{root}/documents.parquet", _docs_table(ids, texts, langs, sources))
    _write(f"{root}/embeddings.parquet",
           _emb_table(emb_ids, np.concatenate(emb_vecs), emb_labels))
    return {"near": near, "exact": exact, "texts": dict(zip(ids, texts))}


# ------------------------------------------------------------ vector_serving
VEC_N, VEC_DIM, VEC_CLUSTERS = 10000, 64, 16
VEC_DELTA = 500
ROUNDS = 40               # query rounds listed per phase (cycled)
DELTA_BASE_ID = 1_000_000


def vectors(rng, root):
    """Clustered unit embeddings, a fixed delta batch, and the query rounds:
    before the append the probes are indexed vectors (excluded from their
    own results); after it, appended ones."""
    centers = rng.normal(0, 1, (VEC_CLUSTERS, VEC_DIM))

    def draw(k):
        lab = rng.integers(0, VEC_CLUSTERS, k)
        return _unit(centers[lab] + 0.7 * rng.normal(0, 1, (k, VEC_DIM))), lab

    base_v, base_l = draw(VEC_N)
    delta_v, delta_l = draw(VEC_DELTA)
    base_ids = list(range(VEC_N))
    delta_ids = list(range(DELTA_BASE_ID, DELTA_BASE_ID + VEC_DELTA))
    _write(f"{root}/base/embeddings.parquet", _emb_table(base_ids, base_v, base_l))
    _write(f"{root}/delta/embeddings.parquet", _emb_table(delta_ids, delta_v, delta_l))
    rounds = [(phase, *(int(x) for x in rng.choice(pool, 2, replace=False)))
              for phase, pool in (("pre", base_ids), ("post", delta_ids)) for _ in range(ROUNDS)]
    with open(f"{root}/rounds.tsv", "w") as f:
        f.write("".join(f"{p}\t{a}\t{b}\n" for p, a, b in rounds))
    return {
        "vecs": np.concatenate([base_v, delta_v]).astype(np.float32).astype(np.float64),
        "vec_ids": np.array(base_ids + delta_ids), "n_base_vecs": VEC_N,
    }


def make(workload, seed, root):
    rng = np.random.default_rng(seed)
    return {"seis_build": seis, "corpus_curation": corpus,
            "vector_serving": vectors}[workload](rng, root)
