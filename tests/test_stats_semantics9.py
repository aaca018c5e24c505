"""Ninth independent-semantics sweep: the round-9 spectral, post-hoc,
paired-gate, integrity, and isotropy queries recomputed with plain
pandas/numpy/scipy-free textbook formulas (the oracle gate proves
cross-engine agreement; these prove the agreed-on formula)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q(spark):
    from slipstream_async_spark.plans.catalog import _QUERIES

    def run(name):
        return _QUERIES[name](spark, SF).toPandas()

    return run


@pytest.fixture(scope="module")
def orders():
    return pd.read_parquet(f"{SF}/orders.parquet")


@pytest.fixture(scope="module")
def lineitem():
    return pd.read_parquet(f"{SF}/lineitem.parquet")


@pytest.fixture(scope="module")
def documents():
    return pd.read_parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings():
    return pd.read_parquet(f"{SF}/embeddings.parquet")


def test_fk_violation_audit_counts(q, lineitem, orders):
    out = q("fk_violation_audit").set_index("edge")
    row = out.loc["lineitem.l_orderkey->orders"]
    assert row.n_rows == len(lineitem)
    assert row.n_null_fk == int(lineitem.l_orderkey.isna().sum())
    orphan_keys = set(lineitem.l_orderkey.dropna()) - set(orders.o_orderkey)
    assert row.n_orphan_keys == len(orphan_keys)
    assert row.n_orphan_rows == int(
        lineitem.l_orderkey.isin(orphan_keys).sum()
    )
    # synthetic TPC-H-ish data is referentially intact; the audit must
    # agree (a nonzero count here means the audit, not the data, broke)
    assert (out.n_orphan_rows == 0).all()
    assert len(out) == 7


def test_fk_violation_audit_rejects_non_integral_keys(spark, tmp_path):
    """A string FK would be cast to bigint, and an unparseable value
    becomes NULL and is never counted as an orphan: the audit must fail
    closed on such an edge instead of reporting it clean."""
    from slipstream_async_spark.plans.catalog import _fk_audit

    d = str(tmp_path)
    pd.DataFrame({"c_key": ["1", "x9"]}).to_parquet(f"{d}/child.parquet")
    pd.DataFrame({"p_key": [1, 2]}).to_parquet(f"{d}/parent.parquet")
    edge = ("child.c_key->parent", "child", "c_key", "parent", "p_key")
    with pytest.raises(TypeError, match="c_key"):
        _fk_audit(spark, d, [edge])
    pd.DataFrame({"c_key": [1, 9]}).to_parquet(f"{d}/child.parquet")
    row = _fk_audit(spark, d, [edge]).collect()[0]
    assert (row.n_rows, row.n_orphan_keys, row.n_orphan_rows) == (2, 1, 1)


def test_periodogram_is_the_dft_power_fraction(q, orders):
    day = (
        orders.o_orderdate.values.astype("datetime64[D]")
        - np.datetime64("1992-01-01")
    ).astype(int)
    cents = (orders.o_totalprice * 100).round().astype(np.int64)
    daily = pd.DataFrame({"d": day, "x": cents}).groupby("d").x.sum()
    d = daily.index.to_numpy(float)
    # mirror the engines' 1e-6 trig quantization so the check is exact
    x = daily.to_numpy(float)
    n = len(x)
    out = q("orders_spectral_periodogram").set_index("period_days")
    assert (out.n_days == n).all()
    for p in (7, 30, 91, 365):
        ang = 2 * np.pi * (d % p) / p
        cq = np.floor(np.cos(ang) * 1e6 + 0.5)
        sq = np.floor(np.sin(ang) * 1e6 + 0.5)
        xc = x - x.mean()
        cqc, sqc = cq - cq.mean(), sq - sq.mean()
        a2 = (xc @ cqc) ** 2 + (xc @ sqc) ** 2
        # engines compute n*C - Sx*Cc = n * sum(xc * cq); the extra
        # cq-centering term vanishes because sum(xc) == 0
        frac = 2 * a2 / (n * (xc @ xc) * 1e12)
        assert out.loc[p].power_frac == pytest.approx(frac, abs=2e-6)
    assert out.dominant.sum() >= 1
    assert out.loc[out.power_frac.idxmax()].dominant


def test_tukey_hsd_vs_textbook(q, lineitem, orders):
    j = lineitem.merge(
        orders, left_on="l_orderkey", right_on="o_orderkey"
    )
    lag = (
        j.l_shipdate.values.astype("datetime64[D]")
        - j.o_orderdate.values.astype("datetime64[D]")
    ).astype(int)
    df = pd.DataFrame({"p": j.o_orderpriority, "y": lag})
    g = df.groupby("p").y
    means, ns = g.mean(), g.size()
    ssw = float(((df.y - df.p.map(means)) ** 2).sum())
    msw = ssw / (len(df) - len(means))
    out = q("stats_tukey_hsd")
    assert len(out) == len(means) * (len(means) - 1) // 2
    for _, r in out.iterrows():
        diff = means[r.prio_a] - means[r.prio_b]
        se = np.sqrt(msw / 2 * (1 / ns[r.prio_a] + 1 / ns[r.prio_b]))
        assert r.mean_diff == pytest.approx(diff, abs=2e-6)
        assert r.q_stat == pytest.approx(abs(diff) / se, abs=2e-5)
        assert bool(r.significant) == (abs(diff) / se > 3.858)


def test_mcnemar_vs_textbook(q, documents):
    ga = documents.n_chars >= 300
    gb = documents.text.str.split().str.len() >= 60
    b = int((ga & ~gb).sum())
    c = int((~ga & gb).sum())
    out = q("stats_mcnemar").iloc[0]
    assert out.n_docs == len(documents)
    assert out.n_a_only == b and out.n_b_only == c
    assert out.n_both == int((ga & gb).sum())
    chi = (abs(b - c) - 1) ** 2 / (b + c) if b + c else 0.0
    assert out.mcnemar_chi2 == pytest.approx(chi, abs=2e-6)
    assert bool(out.gates_differ) == (chi > 3.841459)


def test_isotropy_equals_brute_force_mean_pairwise_cos(q, embeddings):
    out = q("emb_isotropy_score").set_index("label")
    for label, grp in embeddings.groupby("label"):
        v = np.stack(grp.embedding.to_numpy()).astype(np.float64)
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        cos = vn @ vn.T
        n = len(vn)
        mean_off = (cos.sum() - np.trace(cos)) / (n * (n - 1))
        r = out.loc[label]
        assert r.n_vectors == n
        # engines quantize components to 1e-6 first; allow that slack
        assert r.mean_pairwise_cos == pytest.approx(mean_off, abs=1e-4)
        assert r.norm_of_mean == pytest.approx(
            np.linalg.norm(vn.mean(axis=0)), abs=1e-4
        )
        # the identity the query relies on: ||sum v̂||^2 - n == offdiag sum
        ident = np.linalg.norm(vn.sum(axis=0)) ** 2 - n
        assert ident == pytest.approx(
            cos.sum() - np.trace(cos), rel=1e-9, abs=1e-9
        )


def _daily_cents(orders):
    day = (
        orders.o_orderdate.values.astype("datetime64[D]")
        - np.datetime64("1992-01-01")
    ).astype(int)
    cents = (orders.o_totalprice * 100).round().astype(np.int64)
    return pd.DataFrame({"d": day, "x": cents}).groupby("d").x.sum()


def test_haar_energy_vs_explicit_transform(q, orders):
    daily = _daily_cents(orders)
    # zero-filled dyadic grid, explicit half-sum differences
    d = daily.index.to_numpy()
    x = np.zeros(int(d.max()) + 1)
    x[d] = daily.to_numpy(float)
    out = q("orders_haar_energy").set_index("level")
    energies = {}
    for j in (1, 2, 3, 4, 5):
        size, half = 2**j, 2 ** (j - 1)
        nblk = int(np.ceil(len(x) / size))
        pad = np.zeros(nblk * size)
        pad[: len(x)] = x
        blocks = pad.reshape(nblk, size)
        diff = blocks[:, :half].sum(axis=1) - blocks[:, half:].sum(axis=1)
        energies[j] = (diff**2).sum() / size
    tot = sum(energies.values())
    for j in (1, 2, 3, 4, 5):
        r = out.loc[j]
        assert r.block_days == 2**j
        assert r.energy_frac == pytest.approx(energies[j] / tot, abs=2e-6)
    assert abs(out.energy_frac.sum() - 1.0) < 5e-6


def test_permutation_test_derandomized_draws(q, orders):
    import hashlib

    sub = orders[orders.o_orderpriority.isin(["1-URGENT", "5-LOW"])]
    cents = (sub.o_totalprice * 100).round().astype(np.int64).to_numpy()
    grp = (sub.o_orderpriority == "1-URGENT").to_numpy()
    keys = sub.o_orderkey.to_numpy()
    d_obs = cents[grp].mean() - cents[~grp].mean()

    def flip(k, r):
        h = hashlib.md5(f"{k}:{r}".encode()).hexdigest()[:8]
        return int(h, 16) % 2 == 0

    n_ext = 0
    for r in range(64):
        f = np.array([flip(k, r) for k in keys])
        d_r = cents[f].mean() - cents[~f].mean()
        if abs(d_r) >= abs(d_obs):
            n_ext += 1
    out = q("stats_permutation_test").iloc[0]
    assert out.n_rows == len(sub)
    assert out.n_extreme == n_ext
    assert out.observed_diff == pytest.approx(d_obs / 100, abs=2e-6)
    assert out.p_value == pytest.approx((1 + n_ext) / 65, abs=2e-6)


def test_grubbs_vs_textbook(q, orders):
    daily = _daily_cents(orders)
    x = daily.to_numpy(float)
    mean, sd = x.mean(), x.std(ddof=1)
    g = np.abs(x - mean) / sd
    out = q("stats_grubbs_outlier").iloc[0]
    assert out.n_days == len(x)
    assert out.g_stat == pytest.approx(g.max(), abs=2e-5)
    assert bool(out.outlier_flag) == (g.max() > 3.5)
    assert out.mean_revenue == pytest.approx(mean / 100, abs=2e-5)


def test_interval_coverage_vs_sweep(q, lineitem, orders):
    j = lineitem.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    epoch = np.datetime64("1992-01-01")
    s = (j.o_orderdate.values.astype("datetime64[D]") - epoch).astype(int)
    e = (j.l_shipdate.values.astype("datetime64[D]") - epoch).astype(int)
    df = pd.DataFrame({"k": j.l_suppkey, "s": s, "e": e})
    out = q("supplier_interval_coverage").set_index("suppkey")
    for k, grp in df.groupby("k"):
        ivs = sorted(zip(grp.s, grp.e))
        merged = []
        for lo, hi in ivs:
            if merged and lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        covered = sum(hi - lo + 1 for lo, hi in merged)
        r = out.loc[k]
        assert r.n_busy_islands == len(merged)
        assert r.covered_days == covered
        assert r.span_days == max(grp.e) - min(grp.s) + 1


def _trade_edges(lineitem, orders):
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    supp = pd.read_parquet(f"{SF}/supplier.parquet")
    j = (
        lineitem.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(supp, left_on="l_suppkey", right_on="s_suppkey")
    )
    j = j[j.c_nationkey != j.s_nationkey]
    lo = np.minimum(j.c_nationkey, j.s_nationkey)
    hi = np.maximum(j.c_nationkey, j.s_nationkey)
    return set(zip(lo, hi))


def test_assortativity_vs_newman_formula(q, lineitem, orders):
    edges = _trade_edges(lineitem, orders)
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    out = q("graph_degree_assortativity").iloc[0]
    assert out.n_nodes == len(deg)
    assert out.n_edges == len(edges)
    m = len(edges)
    j = np.array([deg[u] for u, v in edges], float)
    k = np.array([deg[v] for u, v in edges], float)
    mb = (j + k).sum() / (2 * m)
    den = (j**2 + k**2).sum() / (2 * m) - mb**2
    if den <= 0:
        assert out.assortativity_r == 0.0
    else:
        r = ((j * k).sum() / m - mb**2) / den
        assert out.assortativity_r == pytest.approx(r, abs=2e-6)


def test_clustering_coeff_vs_brute_force(q, lineitem, orders):
    edges = _trade_edges(lineitem, orders)
    adj: dict[int, set] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nation = pd.read_parquet(f"{SF}/nation.parquet")
    names = dict(zip(nation.n_nationkey, nation.n_name))
    out = q("graph_clustering_coefficient").set_index("nation")
    assert len(out) == len(adj)
    for node, nb in adj.items():
        tri = sum(
            1
            for a in nb
            for b in nb
            if a < b and (min(a, b), max(a, b)) in edges
        )
        r = out.loc[names[node]]
        assert r.degree == len(nb)
        assert r.triangles == tri
        d = len(nb)
        cc = 2 * tri / (d * (d - 1)) if d >= 2 else 0.0
        assert r.clustering_coeff == pytest.approx(cc, abs=2e-6)


def test_simpson_audit_stratified_vs_pooled(q, lineitem):
    hi = lineitem.l_discount >= 0.05
    ret = lineitem.l_returnflag == "R"
    yr = lineitem.l_shipdate.values.astype("datetime64[Y]").astype(int) + 1970
    out = q("stats_simpson_paradox_audit").set_index("stratum")
    pooled = ret[hi].mean() - ret[~hi].mean()
    assert out.loc["ALL"].risk_diff == pytest.approx(pooled, abs=2e-6)
    for y in np.unique(yr):
        m = yr == y
        if hi[m].sum() == 0 or (~hi[m]).sum() == 0:
            assert str(y) not in out.index
            continue
        rd = ret[m & hi].mean() - ret[m & ~hi].mean()
        r = out.loc[str(y)]
        assert r.risk_diff == pytest.approx(rd, abs=2e-6)
        assert bool(r.sign_agrees_overall) == (np.sign(rd) == np.sign(pooled))


def test_code_detect_score_recompute(q, documents):
    import re

    out = q("text_code_detect").set_index("source")
    rates = {}
    for src, grp in documents[documents.text.str.len() > 0].groupby("source"):
        flags, scores = 0, []
        for t in grp.text:
            punct = len(re.findall(r"[{};()=<>\[\]]", t))
            lines = t.split("\n")
            indent = sum(
                1 for x in lines if x.startswith("  ") or x.startswith("\t")
            )
            score = 5 * punct / len(t) + indent / len(lines)
            scores.append(np.floor(score * 1e6 + 0.5))
            flags += score > 0.08
        rates[src] = (len(grp), flags, np.mean(scores) / 1e6)
    for src, (n, flags, mean_score) in rates.items():
        r = out.loc[src]
        assert r.n_docs == n
        assert r.n_code_like == flags
        assert r.mean_score == pytest.approx(mean_score, abs=2e-6)


def test_effective_rank_matches_eigen_pr(q, embeddings):
    v = np.stack(embeddings.embedding.to_numpy()).astype(np.float64)
    c = np.cov(v.T, bias=True)
    lam = np.linalg.eigvalsh(c)
    pr = lam.sum() ** 2 / (lam**2).sum()
    out = q("emb_effective_rank_pr").iloc[0]
    assert out.n_dims == v.shape[1]
    # trace identity: PR from trace ratios == PR from eigenvalues
    assert out.effective_rank_pr == pytest.approx(pr, rel=1e-3)
    assert out.total_variance == pytest.approx(np.trace(c), rel=1e-3)
    assert out.rank_utilization == pytest.approx(pr / v.shape[1], rel=1e-3)


def test_littles_law_vs_recompute(q, lineitem, orders):
    j = lineitem.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    epoch = np.datetime64("1992-01-01")
    arr = (j.o_orderdate.values.astype("datetime64[D]") - epoch).astype(int)
    comp = (j.l_shipdate.values.astype("datetime64[D]") - epoch).astype(int)
    iv = (
        pd.DataFrame({"k": j.l_orderkey, "arr": arr, "comp": comp})
        .groupby("k")
        .agg(arr=("arr", "first"), comp=("comp", "max"))
    )
    n = len(iv)
    span = iv.comp.max() - iv.arr.min() + 1
    w = (iv.comp - iv.arr + 1).sum()
    out = q("orders_littles_law").iloc[0]
    assert out.n_orders == n
    assert out.lambda_per_day == pytest.approx(n / span, abs=2e-6)
    assert out.mean_lead_days == pytest.approx(w / n, abs=2e-6)
    assert out.l_littles == pytest.approx(w / span, abs=2e-6)
    grid = [
        d
        for d in range(0, 3000, 30)
        if iv.arr.min() <= d <= iv.comp.max()
    ]
    open_cnt = [((iv.arr <= d) & (d <= iv.comp)).sum() for d in grid]
    assert out.n_samples == len(grid)
    assert out.l_sampled == pytest.approx(np.mean(open_cnt), abs=2e-6)


def test_t_closeness_vs_recompute(q):
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    p_glob = cust.c_mktsegment.value_counts(normalize=True)
    tvds, sizes = [], []
    for (_, _), grp in cust.groupby(
        ["c_nationkey", np.floor(cust.c_acctbal / 1000).astype(int)]
    ):
        p = grp.c_mktsegment.value_counts(normalize=True)
        t = 0.5 * sum(
            abs(p.get(s, 0.0) - p_glob[s]) for s in p_glob.index
        )
        tvds.append(np.floor(t * 1e6 + 0.5) / 1e6)
        sizes.append(len(grp))
    tvds, sizes = np.array(tvds), np.array(sizes)
    out = q("privacy_t_closeness").iloc[0]
    assert out.n_groups == len(tvds)
    assert out.max_tvd == pytest.approx(tvds.max(), abs=2e-6)
    assert out.weighted_mean_tvd == pytest.approx(
        (tvds * sizes).sum() / sizes.sum(), abs=2e-6
    )
    assert out.n_violating_groups == int((tvds > 0.3).sum())
    assert out.n_rows_at_risk == int(sizes[tvds > 0.3].sum())


def _split_bucket(doc_id):
    import hashlib

    return int(hashlib.md5(f"split{doc_id}".encode()).hexdigest()[:8], 16) % 10000


def test_kneser_ney_vs_textbook(q, documents):
    from collections import Counter

    c2, held = Counter(), []
    vocab = set()
    for _, row in documents.iterrows():
        t = row.text.split()
        if len(t) < 2:
            continue
        big = list(zip(t[:-1], t[1:]))
        if _split_bucket(row.doc_id) >= 1000:
            c2.update(big)
            vocab.update(t)
        else:
            held.extend((row.source, w1, w2) for w1, w2 in big)
    c1dot, n1f, n1b = Counter(), Counter(), Counter()
    for (w1, w2), c in c2.items():
        c1dot[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    T, V = len(c2), len(vocab)
    per_source: dict[str, list] = {}
    for src, w1, w2 in held:
        pc = (n1b.get(w2, 0) + 0.5) / (T + 0.5 * V)
        if c1dot.get(w1, 0) > 0:
            p = (
                max(c2.get((w1, w2), 0) - 0.75, 0) / c1dot[w1]
                + 0.75 * n1f[w1] / c1dot[w1] * pc
            )
        else:
            p = pc
        per_source.setdefault(src, []).append(
            np.floor(np.log(p) * 1e6 + 0.5)
        )
    out = q("lm_kneser_ney_bigram").set_index("source")
    assert set(out.index) == set(per_source)
    for src, lqs in per_source.items():
        r = out.loc[src]
        assert r.n_bigrams == len(lqs)
        mean_lp = np.floor(np.sum(lqs) / len(lqs) + 0.5) / 1e6
        assert r.mean_logprob == pytest.approx(mean_lp, abs=2e-6)
        assert r.perplexity == pytest.approx(np.exp(-mean_lp), abs=2e-5)


def test_rouge1_pairs_vs_recompute(q, documents):
    from collections import Counter

    out = q("text_rouge1_pairs")
    texts = dict(zip(documents.doc_id, documents.text))
    assert len(out) > 0
    for _, r in out.iterrows():
        ca = Counter(texts[r.id_a].split())
        cb = Counter(texts[r.id_b].split())
        ov = sum(min(ca[w], cb[w]) for w in ca)
        la, lb = sum(ca.values()), sum(cb.values())
        assert r.overlap == ov
        assert r.len_a == la and r.len_b == lb
        assert r.rouge1_recall == pytest.approx(ov / la, abs=2e-6)
        assert r.rouge1_precision == pytest.approx(ov / lb, abs=2e-6)
        assert r.rouge1_f1 == pytest.approx(2 * ov / (la + lb), abs=2e-6)
    # near-dup candidates must share most tokens: F1 meaningfully high
    assert out.rouge1_f1.min() > 0.2


@pytest.fixture(scope="module")
def events():
    return pd.read_parquet(f"{SF}/events.parquet")


def test_asof_tolerance_curve_vs_merge_asof(q, events):
    ev = events.sort_values("ts")
    left = ev[ev.event_type == "view"][["event_id", "user_id", "ts"]]
    right = ev[ev.event_type == "click"][["user_id", "ts"]]
    m = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("ts").rename(columns={"ts": "rts"}),
        left_on="ts",
        right_on="rts",
        by="user_id",
        direction="backward",
    )
    gap_us = (m.ts - m.rts).dt.total_seconds() * 1e6
    out = q("j1_asof_tolerance_curve").set_index("tolerance_minutes")
    for tol in (1, 5, 30, 120):
        ok = gap_us.notna() & (gap_us <= tol * 60e6)
        r = out.loc[tol]
        assert r.n_probes == len(m)
        assert r.n_matched == int(ok.sum())
        assert r.match_rate == pytest.approx(ok.sum() / len(m), abs=2e-6)
        assert r.matched_gap_us_total == int(gap_us[ok].sum())
    # monotone: a looser cap can only match more
    assert out.sort_index().n_matched.is_monotonic_increasing


def test_rayleigh_vs_textbook(q, events):
    us = events.ts.astype("int64")  # datetime64[us] -> microseconds
    frac = (us % 86_400_000_000) / 86_400_000_000
    ang = 2 * np.pi * frac
    df = pd.DataFrame(
        {
            "t": events.event_type,
            "cq": np.floor(np.cos(ang) * 1e6 + 0.5),
            "sq": np.floor(np.sin(ang) * 1e6 + 0.5),
        }
    )
    out = q("events_rayleigh_test").set_index("event_type")
    for t, grp in df.groupby("t"):
        n = len(grp)
        c, s = grp.cq.sum(), grp.sq.sum()
        rbar = np.hypot(c, s) / (n * 1e6)
        z = (c * c + s * s) / (n * 1e12)
        mean_hour = ((np.arctan2(s, c) / (2 * np.pi) + 1) % 1) * 24
        r = out.loc[t]
        assert r.n == n
        assert r.rbar == pytest.approx(rbar, abs=2e-6)
        assert r.rayleigh_z == pytest.approx(z, abs=2e-5)
        assert bool(r.nonuniform) == (z > 2.995732)
        assert r.mean_hour == pytest.approx(mean_hour, abs=2e-5)


def test_roc_auc_vs_sklearn_free_recompute(q, documents):
    toks = documents.text.str.split()
    stops = {"the", "a", "of", "and", "to", "value", "fast", "is", "in", "it"}
    ratio = toks.map(
        lambda t: sum(1 for w in t if w in stops) / max(len(t), 1)
    )
    sq = np.floor(ratio * 1e6 + 0.5).astype(np.int64)
    pos = (documents.lang == "en").to_numpy()
    out = q("quality_roc_auc").set_index("threshold_micro")
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    for thr in (50000, 100000, 150000, 200000, 300000):
        r = out.loc[thr]
        assert r.n_pos == n_pos and r.n_neg == n_neg
        assert r.tpr == pytest.approx(
            (sq[pos] >= thr).sum() / n_pos, abs=2e-6
        )
        assert r.fpr == pytest.approx(
            (sq[~pos] >= thr).sum() / n_neg, abs=2e-6
        )
    # exact pairwise AUC: P(score_pos > score_neg) + 0.5 P(tie)
    sp, sn = sq[pos], sq[~pos]
    gt = sum((sn < v).sum() for v in sp)
    eq = sum((sn == v).sum() for v in sp)
    auc = (gt + 0.5 * eq) / (n_pos * n_neg)
    assert out.auc.iloc[0] == pytest.approx(auc, abs=2e-6)
    assert (out.auc == out.auc.iloc[0]).all()


def test_gumbel_fit_vs_textbook(q, orders):
    daily = _daily_cents(orders)
    day = daily.index.to_numpy()
    months = (
        orders.o_orderdate.values.astype("datetime64[M]")
    )
    df = pd.DataFrame(
        {
            "mon": orders.o_orderdate.values.astype("datetime64[M]"),
            "day": orders.o_orderdate.values.astype("datetime64[D]"),
            "cents": (orders.o_totalprice * 100)
            .round()
            .astype(np.int64)
            .to_numpy(),
        }
    )
    dd = df.groupby(["mon", "day"]).cents.sum()
    mx = dd.groupby(level=0).max().to_numpy(float)
    n = len(mx)
    mean, sd = mx.mean(), mx.std(ddof=1)
    beta = sd * np.sqrt(6) / np.pi
    mu = mean - 0.5772156649015329 * beta
    out = q("stats_gumbel_return_level").iloc[0]
    assert out.n_months == n
    assert out.gumbel_scale == pytest.approx(beta / 100, abs=2e-4)
    assert out.gumbel_location == pytest.approx(mu / 100, abs=2e-4)
    for t, col in ((12, "return_level_12mo"), (120, "return_level_120mo")):
        rl = mu - beta * np.log(-np.log(1 - 1 / t))
        assert out[col] == pytest.approx(rl / 100, abs=2e-4)
    # return levels must increase with rarity and exceed the mean
    assert out.return_level_120mo > out.return_level_12mo > out.mean_monthly_max


def test_chaining_audit_identities(q, documents):
    out = q("dedup_chaining_audit").iloc[0]
    # clusters come from pairs, so every cluster has >= 2 docs and at
    # least k-1 direct pairs (a spanning structure); cohesion in (0, 1]
    assert out.n_docs_clustered >= 2 * out.n_clusters
    assert out.n_direct_pairs >= out.n_docs_clustered - out.n_clusters
    assert out.n_direct_pairs <= out.n_possible_pairs
    assert 0 < out.weighted_cohesion <= 1
    assert 0 < out.min_cohesion <= 1
    if out.n_chained_clusters == 0:
        assert out.weighted_cohesion == 1.0


def test_recluster_tighter_identities(q):
    out = q("dedup_recluster_tighter").iloc[0]
    audit = q("dedup_chaining_audit").iloc[0]
    # tightening can only split: finer clustering has >= cluster count,
    # and the 0.5 graph's cluster/doc totals must agree with the audit
    assert out.n_clusters_05 == audit.n_clusters
    assert out.n_docs_clustered == audit.n_docs_clustered
    assert out.n_clusters_07 >= out.n_clusters_05
    assert out.n_split_clusters <= out.n_clusters_05
    assert 0 <= out.n_docs_freed <= out.n_docs_clustered
    # a cluster only splits if some pair was held by chaining or by a
    # sub-0.7 direct edge; if nothing split, nothing can be freed
    if out.n_split_clusters == 0:
        assert out.n_docs_freed == 0
