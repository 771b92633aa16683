"""Text analysis + dedup + embedding similarity — brute-force Python
oracles at small scale, plus invariants the SQL oracle cannot express
(LSH recall vs the exact path, minhash candidate soundness)."""

import collections

import numpy as np
import pandas as pd
import pytest

from gdal_spark.operators import ann, dedup, textops
from tests.conftest import SF_DIR

DOCS = f"{SF_DIR}/documents.parquet"
EMBS = f"{SF_DIR}/embeddings.parquet"


def py_hash(s: str) -> int:
    acc = 7
    for c in s:
        acc = (acc * 31 + ord(c)) % textops.HASH_P
    return acc


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.read_parquet(DOCS)


@pytest.fixture(scope="module")
def embs_pdf():
    return pd.read_parquet(EMBS)


def test_text_profile_matches_python(spark, docs_pdf):
    out = textops.text_profile(spark.read.parquet(DOCS)).toPandas()
    out = out.set_index("doc_id")
    for rec in docs_pdf.head(40).itertuples(index=False):
        toks = [t for t in rec.text.split(" ") if t]
        row = out.loc[rec.doc_id]
        assert row.n_tokens == len(toks)
        assert row.n_types == len(dict.fromkeys(toks))
        assert row.total_token_len == sum(len(t) for t in toks)
        assert row.text_fp == py_hash(rec.text)
        assert row.min_token_hash == min(py_hash(t) for t in toks)


def test_lang_id_deterministic(spark, docs_pdf):
    out = textops.lang_id(spark.read.parquet(DOCS)).toPandas()
    assert len(out) == len(docs_pdf)
    assert set(out.pred_lang) <= set(textops.LANG_ORDER)
    # argmax consistency with the score columns
    scores = out[[f"score_{lg}" for lg in textops.LANG_ORDER]].to_numpy()
    best = scores.max(axis=1)
    for k, lg in enumerate(textops.LANG_ORDER):
        picked = out.pred_lang == lg
        assert (scores[picked, k] == best[picked]).all()


def test_exact_dedup_structure(spark, docs_pdf):
    out = dedup.exact_dedup(spark.read.parquet(DOCS)).toPandas()
    assert len(out) == len(docs_pdf)
    # canonical is a member of its own group and group sizes add up
    assert (out.groupby("norm_md5").doc_id.min().values
            == out.groupby("norm_md5").canonical_id.first().values).all()
    assert out.group_n.sum() == (out.groupby("norm_md5").group_n.first() ** 2).sum()


def shingle_set(text: str, n: int = 3) -> set:
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[k : k + n]) for k in range(len(toks) - n + 1)}


def test_ngram_jaccard_matches_bruteforce(spark, docs_pdf):
    sub = docs_pdf.head(120)
    sdf = spark.createDataFrame(sub)
    got = dedup.ngram_jaccard_pairs(sdf, min_jacc_ppm=100_000).toPandas()
    sets = {r.doc_id: shingle_set(r.text) for r in sub.itertuples(index=False)}
    ids = sorted(sets)
    exp = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter * 1_000_000 >= 100_000 * union:
                exp.add((a, b, inter, union))
    assert set(map(tuple, got[["doc_a", "doc_b", "inter", "union_n"]].values)) == exp


def test_minhash_lsh_candidates_sound(spark, docs_pdf):
    """Every LSH candidate's verified Jaccard must equal brute force;
    every *identical* doc pair must be found (sig equality is exact)."""
    sub = docs_pdf.head(60).copy()
    # plant two exact near-dup pairs: copy of doc 0 and of doc 1
    clone = sub.head(2).copy()
    clone["doc_id"] = [90001, 90002]
    sub = pd.concat([sub, clone], ignore_index=True)
    out = dedup.minhash_lsh_pairs(spark.createDataFrame(sub)).toPandas()
    pairs = set(map(tuple, out[["doc_a", "doc_b"]].values))
    assert (sub.doc_id.iloc[0], 90001) in pairs
    assert (sub.doc_id.iloc[1], 90002) in pairs
    planted = out[
        ((out.doc_a == sub.doc_id.iloc[0]) & (out.doc_b == 90001))
        | ((out.doc_a == sub.doc_id.iloc[1]) & (out.doc_b == 90002))
    ]
    assert (planted.jacc_key == 1_000_000).all()
    assert (planted.is_dup == 1).all()
    sets = {r.doc_id: shingle_set(r.text) for r in sub.itertuples(index=False)}
    for r in out.itertuples(index=False):
        inter = len(sets[r.doc_a] & sets[r.doc_b])
        union = len(sets[r.doc_a] | sets[r.doc_b])
        assert r.inter == inter and r.union_n == union


def test_simhash_python_parity(spark, docs_pdf):
    out = dedup.simhash(spark.createDataFrame(docs_pdf.head(30))).toPandas()
    out = out.set_index("doc_id")
    for rec in docs_pdf.head(30).itertuples(index=False):
        toks = list(dict.fromkeys(t for t in rec.text.split(" ") if t))
        hashes = [py_hash(t) for t in toks]
        sim = 0
        for b in range(32):
            s = sum(1 if (h >> b) & 1 else -1 for h in hashes)
            if s >= 0:
                sim |= 1 << b
        assert out.loc[rec.doc_id].simhash == sim


def cos_matrix(embs_pdf):
    v = np.floor(np.stack(embs_pdf.embedding.values).astype(np.float64) * 1e6)
    dots = v @ v.T
    norms = np.sqrt(np.diag(dots))
    return np.floor(1e6 * dots / np.outer(norms, norms))


def test_cosine_topk_matches_numpy(spark, embs_pdf):
    out = ann.cosine_topk(spark.read.parquet(EMBS)).toPandas()
    ids = embs_pdf.vec_id.to_numpy()
    order = np.argsort(ids)
    cm = cos_matrix(embs_pdf.iloc[order].reset_index(drop=True))
    sids = ids[order]
    for qid in range(32):
        qi = int(np.searchsorted(sids, qid))
        keys = cm[qi].copy()
        keys[qi] = -np.inf
        # sort by (-cos_key, vec_id)
        top = sorted(range(len(sids)), key=lambda j: (-keys[j], sids[j]))[:5]
        mine = out[out.qid == qid].sort_values("rank")
        assert list(mine.vec_id) == [int(sids[j]) for j in top]
        assert list(mine.cos_key) == [int(keys[j]) for j in top]


def test_ann_lsh_recall(spark, embs_pdf):
    """The LSH path must recover a solid fraction of the exact top-5
    (8 tables x 4 planes at this corpus size)."""
    exact = ann.cosine_topk(spark.read.parquet(EMBS)).toPandas()
    approx = ann.ann_lsh_topk(spark.read.parquet(EMBS)).toPandas()
    e = set(map(tuple, exact[["qid", "vec_id"]].values))
    a = set(map(tuple, approx[["qid", "vec_id"]].values))
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"


def test_embedding_neardup_symmetric_free(spark):
    out = ann.embedding_neardup(spark.read.parquet(EMBS)).toPandas()
    assert (out.vec_a < out.vec_b).all()
    assert (out.cos_key >= 350_000).all()
    # the LSH-bucketed pairs are a subset of the exact all-pairs
    # result, with usable recall at the default threshold
    exact = ann.embedding_neardup_exact(spark.read.parquet(EMBS)).toPandas()
    e = set(map(tuple, exact[["vec_a", "vec_b"]].values))
    g = set(map(tuple, out[["vec_a", "vec_b"]].values))
    assert g <= e
    if e:
        assert len(g) / len(e) >= 0.5, f"neardup recall {len(g)/len(e):.2f}"


def test_simplify_dp_invariants(spark):
    """DP simplify: endpoints kept, output subset of input vertices,
    removed vertices within tolerance of the simplified line."""
    import numpy as np

    from gdal_spark.operators import vector_ops

    rng = np.random.default_rng(11)
    base = np.stack(
        [np.linspace(0, 10, 40), np.sin(np.linspace(0, 3, 40))], axis=1
    )
    noisy = base + rng.normal(0, 0.002, base.shape)
    out = vector_ops.simplify_dp(noisy, tol=0.05)
    assert (out[0] == noisy[0]).all() and (out[-1] == noisy[-1]).all()
    assert len(out) < len(noisy)
    in_set = {tuple(p) for p in noisy}
    assert all(tuple(p) in in_set for p in out)


def test_ann_ivf_recall(spark, embs_pdf):
    """IVF with 2 probes over 8 clusters must recover a reasonable
    share of the exact top-5 (vectors are near-random at this SF)."""
    exact = ann.cosine_topk(spark.read.parquet(EMBS)).toPandas()
    approx = ann.ann_ivf_topk(spark.read.parquet(EMBS)).toPandas()
    e = set(map(tuple, exact[["qid", "vec_id"]].values))
    a = set(map(tuple, approx[["qid", "vec_id"]].values))
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"IVF recall {recall:.2f} too low"


def test_dedup_clusters_transitive(spark):
    """Cluster assignment = transitive closure of is_dup pairs:
    verified against a depth-first search over the pair list; keepers
    are the cluster-min doc ids; sizes sum to the corpus size."""
    from gdal_spark.operators import dedup

    docs = spark.read.parquet(DOCS)
    pairs = (
        dedup.minhash_lsh_pairs(docs)
        .filter("is_dup = 1")
        .select("doc_a", "doc_b")
        .toPandas()
    )
    out = dedup.dedup_clusters(docs).toPandas()
    adj = collections.defaultdict(set)
    for a, b in pairs.itertuples(index=False):
        adj[int(a)].add(int(b))
        adj[int(b)].add(int(a))
    expect = {}
    for d in sorted(out["doc_id"].tolist()):  # first unseen = its min
        if d in expect:
            continue
        comp, stack = {d}, [d]
        while stack:
            new = adj[stack.pop()] - comp
            comp |= new
            stack += new
        expect.update(dict.fromkeys(comp, d))
    got = dict(zip(out["doc_id"], out["cluster_id"]))
    assert got == expect
    assert out["cluster_size"].groupby(out["cluster_id"]).first().sum() == len(out)
    keepers = out[out["is_keeper"] == 1]
    assert set(keepers["doc_id"]) == set(out["cluster_id"].unique())


def test_pq_topk_recall_and_adc_consistency(spark, embs_pdf):
    """PQ-ADC: (a) recall well above chance vs the exact scaled-L2
    top-5 (near-random vectors cap PQ recall; chance is ~0.25%);
    (b) the adc values are exactly the numpy-recomputed asymmetric
    distances from the Spark-trained codebooks and codes."""
    import numpy as np

    emb = spark.read.parquet(EMBS)
    pq = ann.pq_topk(emb).toPandas()
    sv, cb = ann.pq_codebooks(emb)
    codes = ann.pq_codes(sv, cb).toPandas()
    cbp = cb.toPandas()
    pdf = emb.toPandas()
    V = np.floor(
        np.stack(pdf.embedding.to_numpy()) * ann.IVF_SCALE
    ).astype(np.int64)
    ids = pdf.vec_id.to_numpy()
    order = np.argsort(ids)
    V, ids = V[order], ids[order]
    # (a) recall
    rec = 0
    for qid in range(32):
        qi = int(np.searchsorted(ids, qid))
        d2 = ((V - V[qi]) ** 2).sum(axis=1)
        d2[qi] = 2**62
        top = sorted(range(len(ids)), key=lambda j: (d2[j], ids[j]))[:5]
        rec += len({int(ids[j]) for j in top} & set(pq[pq.qid == qid].vec_id))
    assert rec / 160 >= 0.1, f"PQ recall {rec/160:.3f} too low"
    # (b) exact ADC recompute
    books = {}
    for _, r in cbp.iterrows():
        books[(int(r.m), int(r.cid))] = np.asarray(r.c, dtype=np.int64)
    code_map = {}
    for _, r in codes.iterrows():
        code_map[(int(r.vec_id), int(r.m))] = int(r.code)
    for _, r in pq.iterrows():
        qi = int(np.searchsorted(ids, int(r.qid)))
        adc = 0
        sub = ann.DIM // ann.PQ_M
        for m in range(ann.PQ_M):
            qsub = V[qi, m * sub : (m + 1) * sub]
            cvec = books[(m, code_map[(int(r.vec_id), m)])]
            adc += int(((qsub - cvec) ** 2).sum())
        assert adc == int(r.adc)


def test_decontaminate_vs_bruteforce(spark, docs_pdf):
    """Contamination flags vs a pure-python shingle overlap."""
    docs = spark.read.parquet(DOCS)
    bench = docs.filter(f"doc_id % {dedup.BENCH_MOD} = 0")
    corpus = docs.filter(f"doc_id % {dedup.BENCH_MOD} <> 0")
    out = dedup.decontaminate(corpus, bench).toPandas().set_index("doc_id")

    def shingles(text, n=dedup.CONTAM_N):
        toks = [t for t in text.split(" ") if t]
        return {
            " ".join(toks[k : k + n]) for k in range(len(toks) - n + 1)
        }

    bset = set()
    for _, r in docs_pdf.iterrows():
        if r.doc_id % dedup.BENCH_MOD == 0:
            bset |= shingles(r.text)
    n_checked = 0
    for _, r in docs_pdf.iterrows():
        if r.doc_id % dedup.BENCH_MOD == 0:
            continue
        sh = shingles(r.text)
        if not sh:
            assert r.doc_id not in out.index
            continue
        row = out.loc[r.doc_id]
        assert row.n_sh == len(sh)
        assert row.n_hit == len(sh & bset)
        assert row.is_contaminated == int(len(sh & bset) > 0)
        n_checked += 1
    assert n_checked > 100
    assert out.is_contaminated.sum() > 0  # benchmark overlap exists


def test_decontaminate_plan_broadcasts_benchmark(spark):
    docs = spark.read.parquet(DOCS)
    bench = docs.filter(f"doc_id % {dedup.BENCH_MOD} = 0")
    corpus = docs.filter(f"doc_id % {dedup.BENCH_MOD} <> 0")
    s = dedup.decontaminate(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_ivfpq_topk_matches_numpy_replay(spark, embs_pdf):
    """Full independent numpy replay of the IVF-PQ composition:
    coarse Lloyd -> rounded centroids -> integer residuals -> per-
    subspace PQ Lloyd -> encode -> probe -> residual ADC. Every stage
    is integer arithmetic plus correctly-rounded double divisions, so
    the replay must match Spark's output exactly (not just recall)."""
    out = (
        ann.ivfpq_topk(spark.read.parquet(EMBS))
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pdf = embs_pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf.vec_id.to_numpy()
    V = np.floor(
        np.stack(pdf.embedding.to_numpy()).astype(np.float64) * ann.IVF_SCALE
    ).astype(np.int64)

    def lloyd(X, xids, K, iters):
        """Seed = first K ids; assign by ||n*x - S||^2/n^2 with
        (d, cid) tie-break; returns (assign cid per row, S, n)."""
        seed = {int(i): j for j, i in enumerate(xids) if i < K}
        S = np.stack([X[seed[c]] for c in range(K)]).astype(np.int64)
        n = np.ones(K, dtype=np.int64)
        for _ in range(iters):
            num = ((n[:, None, None] * X[None, :, :] - S[:, None, :]) ** 2).sum(
                axis=2
            )  # (K, N)
            d = num.astype(np.float64) / (n.astype(np.float64) ** 2)[:, None]
            # argmin over cid axis: first occurrence == lowest cid tie-break
            assign = np.argmin(d, axis=0)
            S = np.zeros_like(S)
            n = np.zeros_like(n)
            for j, c in enumerate(assign):
                S[c] += X[j]
                n[c] += 1
            keep = n > 0
            assert keep.all()  # seeds never empty at this SF
        return assign, S, n

    assign, S, n = lloyd(V, ids, ann.IVF_K, ann.IVF_ITERS)
    cc = np.floor(S.astype(np.float64) / n[:, None]).astype(np.int64)
    R = V - cc[assign]  # integer residuals
    M, SUB = ann.PQ_M, ann.DIM // ann.PQ_M
    # per-subspace PQ Lloyd over residual subvectors
    codes = np.zeros((len(ids), M), dtype=np.int64)
    books = []
    for m in range(M):
        sub = R[:, m * SUB : (m + 1) * SUB]
        pa, pS, pn = lloyd(sub, ids, ann.PQ_K, ann.PQ_ITERS)
        cb = np.floor(pS.astype(np.float64) / pn[:, None]).astype(np.int64)
        books.append(cb)
        d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = np.argmin(d2, axis=1)  # ties -> lowest cid
    for qid in range(ann.N_QUERIES):
        qi = int(np.searchsorted(ids, qid))
        qnum = ((n[:, None] * V[qi][None, :] - S) ** 2).sum(axis=1)
        qd = qnum.astype(np.float64) / n.astype(np.float64) ** 2
        probe = np.argsort(qd, kind="stable")[: ann.IVF_PROBES]
        cand = [
            j
            for j in range(len(ids))
            if assign[j] in set(probe) and ids[j] != qid
        ]
        adcs = []
        for j in cand:
            qr = V[qi] - cc[assign[j]]
            adc = 0
            for m in range(M):
                qsub = qr[m * SUB : (m + 1) * SUB]
                adc += int(((qsub - books[m][codes[j, m]]) ** 2).sum())
            adcs.append((adc, int(ids[j])))
        expect = sorted(adcs)[:5]
        got = out[out.qid == qid]
        assert [(int(a), int(v)) for a, v in zip(got.adc, got.vec_id)] == expect


def test_ann_scale_knobs_nondefault(spark, embs_pdf, monkeypatch):
    """IVF/PQ cluster counts, Lloyd iteration counts and the PQ
    subspace count are module constants read at call time; this test
    monkeypatches them to NON-default values and runs the stages
    end-to-end, checking the contracts: same output schema, k rows per
    query, and codebook cardinality and subvector width following the
    constants."""
    emb = spark.read.parquet(EMBS)
    for name, value in [("TOP_K", 3), ("N_QUERIES", 8), ("IVF_PROBES", 3),
                        ("IVF_K", 4), ("IVF_ITERS", 1)]:
        monkeypatch.setattr(ann, name, value)
    ivf = ann.ann_ivf_topk(emb).toPandas()
    assert list(ivf.columns) == ["qid", "rank", "vec_id", "cos_key"]
    assert (ivf.groupby("qid").size() == 3).all()
    assert ivf.qid.nunique() == 8

    for name, value in [("PQ_K", 4), ("PQ_ITERS", 1), ("PQ_M", 4)]:
        monkeypatch.setattr(ann, name, value)
    sv, cb = ann.pq_codebooks(emb)
    cbp = cb.toPandas()
    assert set(cbp.m.unique()) == set(range(4))  # PQ_M=4 subspaces
    assert (cbp.groupby("m").cid.nunique() <= 4).all()  # K=4 codes
    assert all(len(c) == ann.DIM // 4 for c in cbp.c)  # sub width

    monkeypatch.setattr(ann, "TOP_K", 2)
    monkeypatch.setattr(ann, "N_QUERIES", 4)
    pdf = ann.pq_topk(emb).toPandas()
    assert (pdf.groupby("qid").size() == 2).all()
    assert pdf.qid.nunique() == 4


def test_semdedup_matches_numpy(spark, embs_pdf):
    """Full numpy replay of the SemDeDup contract: the integer-exact
    Lloyd rounds, the within-cluster integer centroid-distance keys,
    and the keep-farthest removal rule."""
    out = ann.semdedup(spark.read.parquet(EMBS)).toPandas()
    pdf = embs_pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf.vec_id.to_numpy()
    E = np.stack(pdf.embedding.values).astype(np.float64)
    V4 = np.floor(E * ann.IVF_SCALE).astype(np.int64)
    V6 = np.floor(E * 1e6).astype(np.int64)

    # Lloyd replay (init: first K vectors, assign-then-update per
    # round; final assignment from the last round, centroids updated
    # after it — exactly ann._lloyd's ordering)
    cents = {int(ids[i]): (V4[i].copy(), 1) for i in range(ann.IVF_K)}
    assign = None
    for _ in range(ann.IVF_ITERS):
        assign = {}
        for i in range(len(ids)):
            best = None
            for cid in sorted(cents):
                s, n = cents[cid]
                d = float(((n * V4[i] - s) ** 2).sum()) / float(n * n)
                if best is None or (d, cid) < best[:2]:
                    best = (d, cid)
            assign[int(ids[i])] = best[1]
        new = {}
        for i in range(len(ids)):
            cid = assign[int(ids[i])]
            s, n = new.get(cid, (np.zeros(ann.DIM, dtype=np.int64), 0))
            new[cid] = (s + V4[i], n + 1)
        cents = new

    idx = {int(v): i for i, v in enumerate(ids)}
    ckey = {}
    for vid, cid in assign.items():
        s, n = cents[cid]
        ckey[vid] = int(((n * V4[idx[vid]] - s) ** 2).sum())

    norms = (V6 * V6).sum(axis=1)
    removed = set()
    for vid, cid in assign.items():
        i = idx[vid]
        for wid, cid2 in assign.items():
            if cid2 != cid or wid == vid:
                continue
            j = idx[wid]
            dot = int((V6[i] * V6[j]).sum())
            ck = int(np.floor(
                1e6 * dot / (np.sqrt(float(norms[i])) * np.sqrt(float(norms[j])))
            ))
            if ck >= 350_000 and (ckey[wid], wid) > (ckey[vid], vid):
                removed.add(vid)
                break

    got = dict(zip(out.vec_id, out.kept))
    expect = {vid: int(vid not in removed) for vid in assign}
    assert got == expect
    got_cid = dict(zip(out.vec_id, out.cid))
    assert got_cid == assign
    assert len(out) == len(ids)


def test_hll_distinct_matches_python(spark, docs_pdf):
    """Replay the full HLL sketch in Python (hash, registers,
    integer harmonic sum, estimator) and sanity-check the estimate
    against the exact count (m=64 -> ~13% std error)."""
    out = textops.hll_distinct(spark.read.parquet(DOCS)).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    M, W = textops.HLL_M, textops.HLL_W
    regs = {}
    vocab = set()
    for text in docs_pdf.text:
        tk = [t for t in text.split(" ") if t]
        for tri in (
            f"{a} {b} {c}" for a, b, c in zip(tk, tk[1:], tk[2:])
        ):
            vocab.add(tri)
            h = py_hash(tri)
            for c, s in textops.HLL_MIX:
                h = ((h ^ (h >> s)) * c) % textops.HASH_P
            b, w = h % M, (h // M) % (1 << W)
            r = W + 1 - w.bit_length() if w > 0 else W + 1
            regs[b] = max(regs.get(b, 0), r)
    s = sum(1 << (W + 1 - mj) for mj in regs.values())
    s += (M - len(regs)) * (1 << (W + 1))
    est = int(np.floor(0.709 * M * M * float(1 << (W + 1)) / float(s)))
    assert row.m == M
    assert row.v_zero == M - len(regs)
    assert row.s_scaled == s
    assert row.est_hll == est
    assert row.exact_distinct == len(vocab)
    assert abs(est - len(vocab)) / len(vocab) < 0.4


def test_bm25_topk_matches_python(spark, docs_pdf):
    """Brute-force BM25 (float math.log) agrees with the fixed-point
    Spark ranking on both order and quantized scores."""
    import math

    out = textops.bm25_topk(spark.read.parquet(DOCS)).toPandas()
    terms = textops.BM25_TERMS
    docs = [
        (int(r.doc_id), [t for t in r.text.split(" ") if t])
        for r in docs_pdf.itertuples(index=False)
    ]
    n = len(docs)
    sdl = sum(len(tk) for _, tk in docs)
    avgdl = sdl / n
    dfs = [sum(1 for _, tk in docs if t in tk) for t in terms]
    scored = []
    for did, tk in docs:
        dl = len(tk)
        total = 0
        hit = False
        for t, df in zip(terms, dfs):
            tf = tk.count(t)
            if tf == 0:
                continue
            hit = True
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            c = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
            total += int(np.floor(10_000.0 * c))
        if hit:
            scored.append((-total, did, total, dl))
    scored.sort()
    expect = [
        (rk + 1, did, sc, dl)
        for rk, (_, did, sc, dl) in enumerate(scored[:10])
    ]
    got = list(map(tuple, out[["rank", "doc_id", "score_fp", "dl"]].values))
    assert got == expect


def test_pii_scrub_matches_python_re(spark, docs_pdf):
    import re

    out = (
        textops.pii_scrub(spark.read.parquet(DOCS))
        .toPandas()
        .set_index("doc_id")
    )
    email = re.compile(textops.PII_EMAIL_RE)
    ip = re.compile(textops.PII_IP_RE)
    phone = re.compile(textops.PII_PHONE_RE)
    planted = 0
    for rec in docs_pdf.head(60).itertuples(index=False):
        t = rec.text
        if rec.doc_id % 3 == 0:
            t += f" u{rec.doc_id}@ex{rec.doc_id % 5}.org"
        if rec.doc_id % 4 == 1:
            t += f" ip 10.{rec.doc_id % 256}.0.{rec.doc_id % 100}"
        if rec.doc_id % 5 == 2:
            t += f" call 555-{100 + rec.doc_id % 900}-{1000 + rec.doc_id % 9000}"
        row = out.loc[rec.doc_id]
        assert row.n_emails == len(email.findall(t))
        assert row.n_ips == len(ip.findall(t))
        assert row.n_phones == len(phone.findall(t))
        clean = phone.sub(
            "<PHONE>", ip.sub("<IP>", email.sub("<EMAIL>", t))
        )
        assert row.clean_text == clean
        planted += int(rec.doc_id % 3 == 0)
    assert planted > 5  # the fixture really exercises the regexes


def test_url_canonicalize_urllib_replay(spark):
    """Independent replay with urllib.parse: plant the same messy
    URLs, canonicalize via the parsed structure, and require exact
    agreement — plus every 6-id block collapses to one canonical URL
    with the smallest id as keeper."""
    from urllib.parse import parse_qsl, urlparse

    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = textops.url_canonicalize(docs).toPandas().sort_values("doc_id")

    def plant(i):
        g, d = (i // 6) % 50, i // 6
        return [
            f"https://WWW.Example{g}.COM/path/page{d}?utm_source=x&id={d}",
            f"https://www.example{g}.com:443/path/page{d}?id={d}",
            f"http://example{g}.com:80/path/page{d}/?id={d}",
            f"https://www.example{g}.com/path/page{d}?id={d}&utm_campaign=y",
            f"https://example{g}.com/path/page{d}?id={d}#frag",
            f"https://www.example{g}.com/path/page{d}?id={d}",
        ][i % 6]

    def canon(raw):
        p = urlparse(raw)
        scheme = p.scheme.lower()
        host = p.hostname.lower()
        host = host[4:] if host.startswith("www.") else host
        port = ""
        if p.port and not (
            (scheme, p.port) in (("http", 80), ("https", 443))
        ):
            port = f":{p.port}"
        path = p.path or "/"
        if len(path) > 1 and path.endswith("/"):
            path = path[:-1]
        q = "&".join(
            f"{k}={v}" for k, v in parse_qsl(p.query)
            if not k.startswith("utm_")
        )
        return f"{scheme}://{host}{port}{path}" + (f"?{q}" if q else "")

    for _, r in got.iterrows():
        i = int(r["doc_id"])
        assert r["url_canon"] == canon(plant(i)), i
        # the http variant (i % 6 == 2) differs by scheme — its own
        # canonical; the five https variants collapse to the block min
        exp_canon_id = i if i % 6 == 2 else (i // 6) * 6
        assert r["canon_id"] == exp_canon_id, i
        assert r["is_dup"] == int(r["doc_id"] != r["canon_id"])
    # each full block of 6: five https rows share one keeper
    full = got[got["doc_id"] < (len(got) // 6) * 6]
    assert (full.groupby(full["doc_id"] // 6)["is_dup"].sum() == 4).all()


def test_zipf_fit_matches_float_polyfit(spark):
    """slope/intercept agree with numpy.polyfit over the brute-force
    Counter rank-frequency table to ~1e-4."""
    from collections import Counter

    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = textops.zipf_fit(docs).collect()[0]
    pdf = docs.select("text").toPandas()
    c = Counter()
    for t in pdf["text"]:
        c.update(w for w in t.split(" ") if w)
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:64]
    lr = np.log(np.arange(1, len(top) + 1))
    lf = np.log([f for _, f in top])
    slope, icept = np.polyfit(lr, lf, 1)
    assert got["k_used"] == len(top)
    assert abs(got["slope_key"] / 1e6 - slope) < 1e-4
    assert abs(got["icept_key"] / 1e6 - icept) < 1e-4
    assert got["slope_key"] < 0  # frequencies decay with rank


def test_bigram_perplexity_counter_replay(spark):
    """Brute-force Counter replay of the quantized bigram NLL (exact
    up to the documented 1-ulp ln slack: <= 1 unit per distinct
    bigram)."""
    import math
    from collections import Counter

    docs = spark.read.parquet(DOCS)
    got = textops.bigram_perplexity(docs).toPandas().set_index("doc_id")
    pdf = pd.read_parquet(DOCS)
    c12, c1, per_doc = Counter(), Counter(), {}
    for r in pdf.itertuples(index=False):
        toks = [t for t in r.text.split(" ") if t]
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        per_doc[r.doc_id] = bgs
        c12.update(bgs)
    for bg, c in c12.items():
        c1[bg.split(" ")[0]] += c
    for doc_id, bgs in per_doc.items():
        row = got.loc[doc_id]
        assert row["n_bigrams"] == len(bgs)
        if not bgs:
            assert row["nll_avg_b"] == -1
            continue
        exp = sum(
            math.floor(1e4 * math.log(c1[bg.split(" ")[0]] / c12[bg]))
            for bg in bgs
        )
        assert abs(row["nll_sum_b"] - exp) <= len(bgs)
        assert row["nll_avg_b"] == row["nll_sum_b"] // row["n_bigrams"]
        # fluency signal: observed bigrams are never rarer than the
        # all-smoothed floor ln(c1) and never negative
        assert row["nll_sum_b"] >= 0


def test_html_extract_re_replay(spark):
    """Python re replay: planted chrome is dropped, recovered content
    equals the tokenized document text, ratio matches."""
    import re as pyre

    docs = spark.read.parquet(DOCS)
    got = textops.html_extract(docs).toPandas().set_index("doc_id")
    pdf = pd.read_parquet(DOCS)
    for r in pdf.head(60).itertuples(index=False):
        toks = [t for t in r.text.split(" ") if t]
        h = max(1, len(toks) // 2)
        html = (
            f"<html><head><title>Doc {r.doc_id}</title></head><body>"
            f"<nav>Home | About | Login</nav>"
            f"<p>{' '.join(toks[:h])}</p>"
            f'<div class="ad">Buy now! Subscribe today!</div>'
            f"<p>{' '.join(toks[h:])}</p>"
            f"<footer>(c) example.com - Privacy - Terms</footer>"
            f"</body></html>"
        )
        paras = pyre.findall(r"<p>([^<]*)</p>", html)
        stripped = pyre.sub(" +", " ", pyre.sub("<[^>]*>", " ", html)).strip()
        row = got.loc[r.doc_id]
        assert row["n_paras"] == 2
        assert row["content"] == " ".join(paras)
        assert "Buy now" not in row["content"]
        assert "nav" not in row["content"]
        assert row["stripped_len"] == len(stripped)
        assert row["content_ppm"] == int(
            np.floor(1e6 * len(" ".join(paras)) / len(stripped))
        )


def test_split_leakage_composes_pairs_and_split(spark):
    """Exactly the is_dup=1 MinHash pairs, each tagged with the same
    split its side gets from dataset_split; leak flag = one side in
    train XOR the other."""
    docs = spark.read.parquet(DOCS)
    got = dedup.split_leakage(docs).toPandas()
    pairs = dedup.minhash_lsh_pairs(docs).toPandas()
    pairs = pairs[pairs["is_dup"] == 1]
    sp = textops.dataset_split(docs).toPandas().set_index("doc_id")["split"]
    assert set(map(tuple, got[["doc_a", "doc_b"]].values)) == set(
        map(tuple, pairs[["doc_a", "doc_b"]].values)
    )
    for r in got.itertuples(index=False):
        assert r.split_a == sp[r.doc_a] and r.split_b == sp[r.doc_b]
        assert r.is_leak == int(
            (r.split_a == "train") != (r.split_b == "train")
        )


def test_fasttext_score_python_replay(spark):
    """Bucket-hash + planted-weight replay in pure Python; label is
    the sign of the summed weights."""
    docs = spark.read.parquet(DOCS)
    got = textops.fasttext_score(docs).toPandas().set_index("doc_id")
    pdf = pd.read_parquet(DOCS)
    for r in pdf.head(50).itertuples(index=False):
        toks = [t for t in r.text.split(" ") if t]
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        s = 0
        for f in feats:
            b = py_hash(f) % 1024
            s += ((b * 2654435761) % 4294967296) % 4096 - 2048
        row = got.loc[r.doc_id]
        assert row["n_feats"] == len(feats)
        assert row["score_sum"] == s
        assert row["label"] == int(s >= 0)
