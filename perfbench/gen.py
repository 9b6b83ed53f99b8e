"""Seeded input generator for the three benchmark workloads.

Every table is a deterministic function of (workload, seed): the same
seed writes byte-identical parquet, two seeds write different data.
Tables carry the column names graft's registered queries read, so the
DuckDB oracles registered next to those queries replay them unchanged.

  collection_build  orders / part / lineitem: Zipf collection sizes,
                    Zipf member popularity (a hot head above the
                    overlap dfCap of 40), prices in whole cents.
  corpus_build      documents: near-duplicate families with Zipf sizes
                    and a seeded word-edit rate.
  ingest_serving    base/documents + base/embeddings (the existing
                    corpus, doc_id % 10 != 0), then one slice of
                    incoming docs (doc_id % 10 == 0) per warm-up pass
                    (warmup-<i>/) and per timed cycle (cycle-<i>/), each
                    seeded by its own index, with near-duplicates of
                    existing families and one large skewed family.

The shape parameters below (Zipf exponents, duplicate shares, edit
rate, slice size) are assumed, not measured: neither the reference's
data nor graft's testdata gives their values. perfbench/README.md lists
which workload property depends on each.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. A pass must fit the run budget (several passes
# inside --seconds) while still doing enough work per job that the
# executors, not the scheduler, set the pace; see perfbench/README.md.
# ingest_serving writes one slice per warm-up pass and per timed cycle;
# a run stops after `cycles` cycles even when --seconds is not up.
SIZES = {
    "collection_build": {"orders": 60000, "parts": 20000, "lineitem": 300000},
    "corpus_build": {"docs": 40000},
    "ingest_serving": {"existing_docs": 3000, "existing_vecs": 1200,
                       "warmups": 3, "cycles": 8, "slice_docs": 500},
}
DF_CAP = 40
VOCAB = 6000
# Assumed shape parameters (see the module docstring).
COLL_SIZE_ALPHA = 1.2      # Zipf exponent of collection sizes
MEMBER_POP_S = 0.9         # Zipf exponent of member popularity
FAMILY_ALPHA = 1.3         # Zipf exponent of near-duplicate family sizes
EDIT_RATE = 0.03           # per-word edit rate inside a family
DUP_SHARE = 0.35           # share of the corpus inside duplicate families
SLICE_BIG_SHARE = 0.2      # share of a slice in its one skewed family
SLICE_DUP_SHARE = 0.3      # further share of a slice duplicating other families
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def _rng(workload, seed, salt=0):
    # Stable across processes (no hash randomisation).
    tag = sum(ord(c) * (i + 1) for i, c in enumerate(workload))
    return np.random.default_rng([int(seed), tag, salt])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _zipf_sizes(n, alpha, lo, hi):
    """n Pareto/Zipf-distributed sizes taken at evenly spaced quantiles:
    the size distribution is fixed, the seed only decides which
    collection or family gets which size."""
    u = (np.arange(n) + 0.5) / n
    s = np.floor(lo * (1.0 - u) ** (-1.0 / alpha)).astype(np.int64)
    return np.clip(s, lo, hi)


def _quantiles(a, qs=(0.5, 0.9, 0.99, 1.0)):
    a = np.asarray(a)
    if a.size == 0:
        return {}
    return {f"p{int(q * 100)}": int(np.quantile(a, q, method="lower"))
            for q in qs}


# ---------------------------------------------------------------- collections

def gen_collection_build(seed, out):
    z = SIZES["collection_build"]
    rng = _rng("collection_build", seed)
    n_o, n_p, n_l = z["orders"], z["parts"], z["lineitem"]
    okeys = np.arange(1, n_o + 1, dtype=np.int64)
    price = np.round(rng.uniform(100.0, 50000.0, n_o), 2)
    _write(pa.table({"o_orderkey": okeys, "o_totalprice": price}),
           f"{out}/orders.parquet")

    pkeys = np.arange(1, n_p + 1, dtype=np.int64)
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
                     "qu", "ba", "do"])
    a = syll[rng.integers(0, len(syll), (n_p, 3))]
    names = np.char.add(np.char.add(np.char.add(a[:, 0], a[:, 1]), a[:, 2]),
                        np.char.add("-", pkeys.astype(str)))
    _write(pa.table({"p_partkey": pkeys, "p_name": names.astype(object)}),
           f"{out}/part.parquet")

    # Zipf collection sizes scaled to the lineitem budget.
    sizes = rng.permutation(_zipf_sizes(n_o, COLL_SIZE_ALPHA, 1, 4000)).astype(np.float64)
    sizes = np.maximum(1, np.round(sizes * n_l / sizes.sum())).astype(np.int64)
    coll = np.repeat(okeys, sizes)
    # Zipf member popularity over a seeded permutation of the parts.
    rank_w = 1.0 / np.arange(1, n_p + 1) ** MEMBER_POP_S
    perm = rng.permutation(pkeys)
    member = perm[rng.choice(n_p, size=coll.size, p=rank_w / rank_w.sum())]
    score = np.round(rng.uniform(1.0, 1000.0, coll.size), 2)
    _write(pa.table({"l_orderkey": coll, "l_partkey": member,
                     "l_extendedprice": score}), f"{out}/lineitem.parquet")

    pairs = np.unique(np.stack([coll, member], 1), axis=0)
    csize = np.bincount(pairs[:, 0])[1:]
    df = np.bincount(pairs[:, 1], minlength=n_p + 1)[1:]
    used = df[df > 0]
    return {"rows": {"orders": n_o, "part": n_p, "lineitem": int(coll.size)},
            "collection_size": _quantiles(csize),
            "member_df": _quantiles(used),
            "df_cap": DF_CAP,
            "members_above_df_cap_frac": round(float((used > DF_CAP).mean()), 4)}


# --------------------------------------------------------------------- corpus

def _vocab(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, VOCAB)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return np.array(sorted(words))


def _base_text(rng, vocab):
    n = int(rng.integers(12, 70))
    return list(vocab[rng.integers(0, len(vocab), n)])


def _edit(rng, words, vocab):
    out = []
    for w in words:
        r = rng.random()
        if r < EDIT_RATE / 3:
            continue                       # delete
        if r < 2 * EDIT_RATE / 3:
            out.append(vocab[rng.integers(0, len(vocab))])   # substitute
            continue
        out.append(w)
        if r > 1.0 - EDIT_RATE / 3:
            out.append(vocab[rng.integers(0, len(vocab))])   # insert
    return out


def _families(rng, n_docs, dup_share, alpha, max_family):
    """Family sizes in a seeded order: singletons plus Zipf-sized
    duplicate families that together hold about `dup_share` of the
    documents."""
    target = int(dup_share * n_docs)
    k = 1
    while _zipf_sizes(k + 1, alpha, 2, max_family).sum() <= target:
        k += 1
    dups = [int(f) for f in _zipf_sizes(k, alpha, 2, max_family)]
    fams = dups + [1] * max(0, n_docs - sum(dups))
    return [fams[i] for i in rng.permutation(len(fams))]


def _docs_from_families(rng, vocab, fams):
    # Languages go round-robin over the families in size order, so the
    # share of each language among the large families (the ones that
    # dominate dedup work) does not depend on the seed.
    rank = np.empty(len(fams), dtype=np.int64)
    rank[np.argsort([-f for f in fams], kind="stable")] = np.arange(len(fams))
    texts, langs, fam_id = [], [], []
    for fi, f in enumerate(fams):
        base = _base_text(rng, vocab)
        lang = LANGS[rank[fi] % len(LANGS)]
        for j in range(f):
            words = base if j == 0 else _edit(rng, base, vocab)
            texts.append(" ".join(words))
            langs.append(lang)
            fam_id.append(fi)
    return texts, langs, np.array(fam_id)


def _family_stats(fams, n_docs):
    f = np.array([x for x in fams if x > 1])
    return {"dup_families": int(f.size),
            "family_size": _quantiles(f),
            "dup_share": round(float(f.sum()) / n_docs, 4),
            "largest_family_share": round(float(f.max()) / n_docs, 4)
            if f.size else 0.0}


def gen_corpus_build(seed, out):
    n = SIZES["corpus_build"]["docs"]
    rng = _rng("corpus_build", seed)
    vocab = _vocab(rng)
    fams = _families(rng, n, DUP_SHARE, FAMILY_ALPHA, 150)
    texts, langs, _ = _docs_from_families(rng, vocab, fams)
    order = rng.permutation(len(texts))        # scatter families over ids
    ids = np.arange(len(texts), dtype=np.int64)
    _write(pa.table({
        "doc_id": ids,
        "text": np.array(texts, dtype=object)[order],
        "lang": np.array(langs, dtype=object)[order],
        "source": np.array([f"src{i % 7}" for i in range(len(texts))],
                           dtype=object)}), f"{out}/documents.parquet")
    st = _family_stats(fams, len(texts))
    st["rows"] = {"documents": len(texts)}
    st["edit_rate"] = EDIT_RATE
    return st


# -------------------------------------------------------------------- ingest

def _embeddings(rng, ids, fam, centers):
    v = centers[fam % len(centers)] + 0.35 * rng.standard_normal(
        (len(ids), centers.shape[1]))
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(list(v.astype(np.float32)),
                                           pa.list_(pa.float32()))})


def gen_ingest_serving(seed, out):
    z = SIZES["ingest_serving"]
    rng = _rng("ingest_serving", seed)
    vocab = _vocab(rng)
    centers = rng.standard_normal((48, 64))
    n_e = z["existing_docs"]
    fams = _families(rng, n_e, DUP_SHARE, FAMILY_ALPHA, 120)
    texts, langs, fam = _docs_from_families(rng, vocab, fams)
    order = rng.permutation(len(texts))
    texts = np.array(texts, dtype=object)[order]
    fam = fam[order]
    # Existing ids skip every multiple of 10: those belong to slices.
    ids = np.array([i + i // 9 + 1 for i in range(len(texts))], dtype=np.int64)
    _write(pa.table({"doc_id": ids, "text": texts,
                     "lang": np.array(langs, dtype=object)[order],
                     "source": np.array(["base"] * len(texts), dtype=object)}),
           f"{out}/base/documents.parquet")
    n_v = z["existing_vecs"]
    _write(_embeddings(rng, ids[:n_v], fam[:n_v], centers),
           f"{out}/base/embeddings.parquet")

    # Base texts per family, for the slices' near-duplicates.
    fam_text = {}
    for t, f in zip(texts, fam):
        fam_text.setdefault(int(f), t.split(" "))
    multi = [i for i, f in enumerate(fams) if f > 1]
    by_size = [multi[i] for i in np.argsort([-fams[i] for i in multi], kind="stable")]
    stats = {"rows": {"base_documents": len(texts), "base_embeddings": n_v},
             "base": _family_stats(fams, len(texts)), "slices": []}
    names = [f"warmup-{i}" for i in range(z["warmups"])] + \
        [f"cycle-{i:02d}" for i in range(z["cycles"])]
    first_id = (int(ids.max()) // 10 + 1) * 10
    n_s = z["slice_docs"]
    for k, name in enumerate(names):
        # Every slice has its own generator, seeded by the run's seed
        # and the slice's index, and its own id range.
        srng = _rng("ingest_serving", seed, salt=1 + k)
        sids = np.arange(first_id + 10 * n_s * k, first_id + 10 * n_s * (k + 1),
                         10, dtype=np.int64)
        st = _slice(srng, vocab, centers, fams, fam_text, by_size, sids,
                    f"{out}/{name}")
        st["name"] = name
        stats["slices"].append(st)
    return stats


def _slice(rng, vocab, centers, fams, fam_text, by_size, sids, out):
    """One slice of incoming docs: a skewed share duplicating the
    largest existing family, a share duplicating other existing
    families, and new text for the rest."""
    n_s = len(sids)
    big = by_size[0]
    n_big = int(SLICE_BIG_SHARE * n_s)
    n_dup = int(SLICE_DUP_SHARE * n_s)
    s_texts, s_fam = [], []
    for _ in range(n_big):
        s_texts.append(" ".join(_edit(rng, fam_text[big], vocab)))
        s_fam.append(big)
    # Stratified over the families in size order, so the total size of
    # the families the slice confirms against is seed-independent.
    for j in range(n_dup):
        f = by_size[int((j + rng.random()) * len(by_size) / n_dup)]
        s_texts.append(" ".join(_edit(rng, fam_text[f], vocab)))
        s_fam.append(f)
    for _ in range(n_s - n_big - n_dup):
        s_texts.append(" ".join(_base_text(rng, vocab)))
        s_fam.append(len(fams) + int(rng.integers(0, 1 << 20)))
    _write(pa.table({"doc_id": sids,
                     "text": np.array(s_texts, dtype=object),
                     "lang": np.array(["en"] * n_s, dtype=object),
                     "source": np.array(["slice"] * n_s, dtype=object)}),
           f"{out}/documents.parquet")
    _write(_embeddings(rng, sids, np.array(s_fam), centers),
           f"{out}/embeddings.parquet")
    return {"docs": n_s, "dup_share": round((n_big + n_dup) / n_s, 4),
            "largest_family_docs": n_big + int(fams[big]),
            "largest_family_share_of_slice": round(n_big / n_s, 4)}


GENERATORS = {"collection_build": gen_collection_build,
              "corpus_build": gen_corpus_build,
              "ingest_serving": gen_ingest_serving}


def stamp():
    """A digest of this generator's source (sizes and shape parameters
    included): inputs cached under another stamp are never reused."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def generate(workload, seed, out):
    """Write the inputs for (workload, seed) under `out` once; return the
    recorded input properties."""
    meta_path = f"{out}/inputs.json"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    meta = GENERATORS[workload](seed, tmp)
    meta.update({"workload": workload, "seed": int(seed),
                 "sizes": SIZES[workload]})
    with open(f"{tmp}/inputs.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    if os.path.exists(out):
        import shutil
        shutil.rmtree(out)
    os.rename(tmp, out)
    return meta
