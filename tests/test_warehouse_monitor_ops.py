"""Semantics tests for the warehouse/monitoring operators added late in
round 6 — SCD2 history build, SymSpell fuzzy vocab join, daily anomaly
z-scores, chi-squared feature selection. Each test re-derives the expected
result from the raw parquet with plain Python, independent of both the
Spark plan and the DuckDB oracle."""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def catalog():
    from fastembed_rs_spark.queries import all_queries

    return all_queries()


def test_scd2_versions_tile_each_users_timeline(spark, catalog):
    """Versions are the run-length encoding of each user's state sequence:
    contiguous valid intervals, n_events summing to the user's event count,
    exactly one open (is_current) version per user."""
    out = catalog["scd2_history"].spark(spark, SF).collect()
    from fastembed_rs_spark.queries import t

    raw = (
        t(spark, SF, "events")
        .filter("user_id % 10 = 0")
        .select("user_id", "event_type", "ts", "event_id")
        .collect()
    )
    seq: dict[int, list] = {}
    for r in sorted(raw, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        seq.setdefault(r["user_id"], []).append((r["event_type"], r["ts"]))
    # expected run-length encoding per user
    expect: dict[int, list] = {}
    for u, evs in seq.items():
        runs = []
        for state, ts in evs:
            if runs and runs[-1][0] == state:
                runs[-1][2] += 1
            else:
                runs.append([state, ts, 1])
        expect[u] = runs
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == set(expect)
    for u, rows in by_user.items():
        rows.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rows] == list(range(1, len(rows) + 1))
        assert [(r["state"], r["valid_from"], r["n_events"]) for r in rows] == [
            tuple(x) for x in expect[u]
        ]
        # intervals tile: valid_to(k) == valid_from(k+1); last one open
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["is_current"] == 0
        assert rows[-1].valid_to == -1 and rows[-1].is_current == 1
        assert sum(r["n_events"] for r in rows) == len(seq[u])


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_vocab_join_is_exactly_the_lev1_pairs(spark, catalog):
    """The deletion-neighborhood join must be COMPLETE (every edit-distance-1
    vocab pair appears — the SymSpell guarantee) and SOUND (nothing else)."""
    import re

    out = catalog["fuzzy_vocab_join"].spark(spark, SF).collect()
    parts = spark.read.parquet(f"{SF}/part.parquet").collect()
    counts: dict[str, int] = {}
    for r in parts:
        for tok in re.split("[^a-z0-9]+", r["p_name"].lower()):
            if len(tok) >= 3:
                counts[tok] = counts.get(tok, 0) + 1
    vocab = sorted(counts)
    expect = {
        (a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if abs(len(a) - len(b)) <= 1 and _lev(a, b) == 1
    }
    got = {(r["tok_a"], r["tok_b"]) for r in out}
    assert got == expect and expect  # non-vacuous: the testdata has pairs
    for r in out:
        assert r["cnt_a"] == counts[r["tok_a"]]
        assert r["cnt_b"] == counts[r["tok_b"]]


def test_events_anomaly_days_zscores_match_reference(spark, catalog):
    """z-scores equal a direct trailing-7 mean/std recomputation; days
    without a complete 7-day baseline are absent."""
    out = catalog["events_anomaly_days"].spark(spark, SF).collect()
    from fastembed_rs_spark.queries import t

    raw = t(spark, SF, "events").select("event_type", "ts").collect()
    daily: dict[str, dict[int, int]] = {}
    for r in raw:
        day = r["ts"] // 86400000000000
        daily.setdefault(r["event_type"], {})[day] = (
            daily.setdefault(r["event_type"], {}).get(day, 0) + 1
        )
    expect = {}
    for et, dmap in daily.items():
        days = sorted(dmap)
        for i, day in enumerate(days):
            base = [dmap[d] for d in days[max(0, i - 7) : i]]
            if len(base) != 7:
                continue
            mean = sum(base) / 7.0
            var = sum((x - mean) ** 2 for x in base) / 6.0
            std = math.sqrt(var)
            z = 0.0 if std == 0.0 else (dmap[day] - mean) / std
            expect[(et, day)] = (dmap[day], round(mean, 6), round(z, 6))
    assert {(r["event_type"], r["day"]) for r in out} == set(expect)
    for r in out:
        n, mean, z = expect[(r["event_type"], r["day"])]
        assert r["n"] == n
        assert abs(r["baseline_avg"] - mean) < 1e-6
        assert abs(r["zscore"] - z) < 1e-6
        assert r["is_anomaly"] == (1 if abs(r["zscore"]) > 2.0 else 0)


def test_chi2_token_select_matches_contingency_reference(spark, catalog):
    """chi2 equals the 2x2 contingency formula on doc-frequency counts;
    ranking is (chi2 desc, token asc)."""
    import re

    out = catalog["chi2_token_select"].spark(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    np_ = sum(1 for r in docs if r["lang"] == "en")
    nn = len(docs) - np_
    a: dict[str, int] = {}
    b: dict[str, int] = {}
    for r in docs:
        toks = {t for t in re.split("[^a-z0-9]+", r["text"].lower()) if t}
        for tok in toks:
            if r["lang"] == "en":
                a[tok] = a.get(tok, 0) + 1
            else:
                b[tok] = b.get(tok, 0) + 1
    expect = {}
    for tok in set(a) | set(b):
        aa, bb = a.get(tok, 0), b.get(tok, 0)
        cc, dd = np_ - aa, nn - bb
        if cc + dd == 0:
            chi2 = 0.0
        else:
            num = aa * dd - bb * cc
            chi2 = ((np_ + nn) * float(num) * num) / (
                float(aa + bb) * (cc + dd) * np_ * nn
            )
        expect[tok] = (aa, bb, round(chi2, 6))
    ranked = sorted(expect.items(), key=lambda kv: (-kv[1][2], kv[0]))[:50]
    got = sorted(out, key=lambda r: r["rnk"])
    assert [(r["tok"], r["a"], r["b"]) for r in got] == [
        (tok, aa, bb) for tok, (aa, bb, _) in ranked
    ]
    for r, (_, (_, _, chi2)) in zip(got, ranked):
        assert abs(r["chi2"] - chi2) < 1e-6


def test_table_profile_matches_pandas(spark, catalog):
    """Per-column nulls / exact distincts / fill rate must equal a pandas
    recompute over the raw parquet, and the internal identity
    fill_permille == (n_rows - n_nulls) * 1000 // n_rows must hold."""
    import pandas as pd

    out = {r["column_name"]: r
           for r in catalog["table_profile"].spark(spark, SF).collect()}
    raw = pd.read_parquet(f"{SF}/orders.parquet")
    assert set(out) == set(raw.columns)
    for c, r in out.items():
        assert r["n_rows"] == len(raw)
        assert r["n_nulls"] == int(raw[c].isna().sum())
        assert r["n_distinct"] == int(raw[c].nunique(dropna=True))
        filled = r["n_rows"] - r["n_nulls"]
        assert r["fill_permille"] == filled * 1000 // r["n_rows"]


def test_label_coherence_matches_numpy(spark, catalog):
    """Centroid norm and mean member-cosine must match a NumPy replay with
    the same round-6 -> micro-unit discipline, and every class coherence
    must beat scoring the same members against a WRONG class's centroid
    (the value of the statistic: it separates own-class from cross-class)."""
    import numpy as np

    out = {r["label"]: r
           for r in catalog["label_coherence"].spark(spark, SF).collect()}
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(int(r["label"]), []).append(
            np.asarray(r["embedding"], dtype=np.float64))
    assert set(out) == set(by_label)

    def cos_micro(v, c):
        nv, nc = np.sqrt(v @ v), np.sqrt(c @ c)
        raw = 0.0 if nv == 0 or nc == 0 else float(v @ c) / (nv * nc)
        return int(np.round(np.round(raw, 6) * 1_000_000))

    def fixed_centroid(vs):
        # mirror the query: 1e-8 fixed-point per element BEFORE summation,
        # then one double division pair, then round 6
        X = np.stack(vs)
        sf = np.copysign(np.floor(np.abs(X * 1e8) + 0.5), X).astype(np.int64)
        return np.round((sf.sum(axis=0).astype(np.float64) / 1e8) / len(vs), 6)

    cents = {lb: fixed_centroid(vs) for lb, vs in by_label.items()}
    for lb, r in out.items():
        vs, c = by_label[lb], cents[lb]
        assert r["n_vecs"] == len(vs)
        assert r["centroid_norm_micro"] == int(
            np.round(np.round(np.sqrt(c @ c), 6) * 1_000_000))
        s = sum(cos_micro(v, c) for v in vs)
        # engines' integer division truncates toward zero
        assert r["mean_cos_micro"] == (
            s // len(vs) if s >= 0 else -((-s) // len(vs)))
    # own-centroid coherence > mean cosine against any OTHER class centroid
    labels = sorted(by_label)
    for lb in labels:
        for other in labels:
            if other == lb:
                continue
            cross = np.mean([cos_micro(v, cents[other])
                             for v in by_label[lb]])
            assert out[lb]["mean_cos_micro"] > cross


def _synth_partsupp(spark):
    """Pure-Python mirror of the deterministic partsupp synthesis."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    pairs = {(r["l_partkey"], r["l_suppkey"])
             for r in li.select("l_partkey", "l_suppkey").collect()}
    return {
        (pk, sk): ((pk * 7 + sk * 3) % 9999 + 1,
                   (pk * 31 + sk * 17) % 100000 + 100)
        for pk, sk in pairs
    }


def test_important_stock_share_replays_q11(spark, catalog):
    """Row set must equal a pure-Python Q11 replay over the synthesized
    partsupp, every kept part must clear the scale-free 1/10000 filter,
    and shares must be exact integer per-100k of the regional total."""
    from fastembed_rs_spark.queries.tpch_synth import _Q11_NATIONS

    out = {r["ps_partkey"]: r
           for r in catalog["important_stock_share"].spark(spark, SF).collect()}
    ps = _synth_partsupp(spark)
    nat = {r["n_nationkey"]: r["n_name"]
           for r in spark.read.parquet(f"{SF}/nation.parquet").collect()}
    sups = {r["s_suppkey"]
            for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()
            if nat[r["s_nationkey"]] in _Q11_NATIONS}
    val: dict[int, int] = {}
    for (pk, sk), (qty, cost) in ps.items():
        if sk in sups:
            val[pk] = val.get(pk, 0) + qty * cost
    total = sum(val.values())
    expect = {pk: v for pk, v in val.items() if v * 10000 > total}
    assert set(out) == set(expect)
    for pk, r in out.items():
        assert r["value_cents"] == expect[pk]
        assert r["share_per100k"] == expect[pk] * 100000 // total


def test_supplier_part_variety_counts_clean_suppliers(spark, catalog):
    """Counts must equal a Python set replay and suppliers in bad standing
    must never contribute (re-counting WITH them must weakly increase)."""
    from fastembed_rs_spark.queries.tpch_synth import _Q16_SIZES

    out = {(r["p_brand"], r["p_type"], r["p_size"]): r["supplier_cnt"]
           for r in catalog["supplier_part_variety"].spark(spark, SF).collect()}
    ps = _synth_partsupp(spark)
    part = {r["p_partkey"]: r
            for r in spark.read.parquet(f"{SF}/part.parquet").collect()}
    bad = {r["s_suppkey"]
           for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()
           if r["s_acctbal"] < 0}
    clean: dict[tuple, set] = {}
    dirty: dict[tuple, set] = {}
    for (pk, sk) in ps:
        p = part[pk]
        if (p["p_brand"] == "Brand#1" or p["p_type"] == "PROMO"
                or p["p_size"] not in _Q16_SIZES):
            continue
        key = (p["p_brand"], p["p_type"], p["p_size"])
        dirty.setdefault(key, set()).add(sk)
        if sk not in bad:
            clean.setdefault(key, set()).add(sk)
    assert out == {k: len(v) for k, v in clean.items()}
    for k, cnt in out.items():
        assert cnt <= len(dirty[k])
    if not bad:  # sf0.001 has no negative-acctbal supplier: clean == dirty
        assert out == {k: len(v) for k, v in dirty.items()}


def test_promotion_stock_suppliers_rule(spark, catalog):
    """Returned suppliers must be exactly those holding a 'small%' part
    with availqty > half the (part, supplier) shipped quantity in the
    window — replayed in Python with the same integer-hundredths rule."""
    import datetime

    out = {r["s_suppkey"]
           for r in catalog["promotion_stock_suppliers"].spark(spark, SF).collect()}
    ps = _synth_partsupp(spark)
    part = spark.read.parquet(f"{SF}/part.parquet").collect()
    small = {r["p_partkey"] for r in part if r["p_name"].startswith("small")}
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    lo, hi = datetime.datetime(1996, 1, 1), datetime.datetime(1998, 1, 1)
    shipped: dict[tuple, int] = {}
    for r in li:
        if lo <= r["l_shipdate"] < hi:
            k = (r["l_partkey"], r["l_suppkey"])
            shipped[k] = shipped.get(k, 0) + round(r["l_quantity"] * 100)
    expect = {sk for (pk, sk), (qty, _) in ps.items()
              if pk in small and qty * 200 > shipped.get((pk, sk), 0)}
    assert out == expect


def test_late_delivery_suppliers_replays_q21(spark, catalog):
    """numwait per supplier must equal a pure-Python replay of the Q21
    logic (finished orders, >=2 suppliers, exactly one late, count the
    late one) over the synthesized lateness."""
    out = {r["s_name"]: r["numwait"]
           for r in catalog["late_delivery_suppliers"].spark(spark, SF).collect()}
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    fstat = {r["o_orderkey"]
             for r in spark.read.parquet(f"{SF}/orders.parquet").collect()
             if r["o_orderstatus"] == "F"}
    sname = {r["s_suppkey"]: r["s_name"]
             for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()}
    late: dict[tuple, bool] = {}
    for r in li:
        ok, ln = r["l_orderkey"], r["l_linenumber"]
        if ok not in fstat:
            continue
        lateness = (ok * 11 + ln * 7) % 45 - (ok * 13 + ln * 5) % 30
        k = (ok, r["l_suppkey"])
        late[k] = late.get(k, False) or lateness > 0
    by_order: dict[int, list] = {}
    for (ok, sk), is_late in late.items():
        by_order.setdefault(ok, []).append((sk, is_late))
    expect: dict[str, int] = {}
    for ok, sups in by_order.items():
        n_late = sum(1 for _, l in sups if l)
        if len(sups) >= 2 and n_late == 1:
            sk = next(s for s, l in sups if l)
            expect[sname[sk]] = expect.get(sname[sk], 0) + 1
    assert out == expect
    assert expect, "fixture must produce at least one waiting order"


def test_embedding_spectrum_matches_eigensolver(spark, catalog):
    """The reported estimate must be the EXACT 16-step power-iteration
    replay on the same fixed-point Gram matrix (bit-level kernel+driver
    validation), must respect the Rayleigh bounds — never above numpy's
    true top eigenvalue, and at least the mean eigenvalue trace/dim that
    any unit vector guarantees — and must strictly improve on the
    0-iteration estimate ||G v0||; trace exact; share the exact integer
    permille of the two reported numbers."""
    import numpy as np

    from fastembed_rs_spark.queries.tpch_synth import _SPECTRUM_ITERS

    row = catalog["embedding_spectrum"].spark(spark, SF).collect()[0]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    n, dim = X.shape
    assert row["n_vecs"] == n and row["dim"] == dim
    P = X[:, :, None] * X[:, None, :] * 1e8
    Gf = np.copysign(np.floor(np.abs(P) + 0.5), P).astype(np.int64).sum(axis=0)
    assert row["trace_micro"] == int(np.trace(Gf)) // 100
    G = Gf.astype(np.float64) / 1e8
    v = np.full(dim, 0.125)
    first = None
    for _ in range(_SPECTRUM_ITERS):
        mv = G @ v
        nrm = float(np.sqrt((mv * mv).sum()))
        first = nrm if first is None else first
        v = mv / nrm
    assert abs(row["top_eig_micro"] - round(round(nrm, 6) * 1e6)) <= 1
    top = float(np.linalg.eigvalsh(G)[-1])
    assert row["top_eig_micro"] <= round(top * 1e6) + 1
    assert row["top_eig_micro"] >= row["trace_micro"] // dim  # >= mean eig
    assert nrm >= first  # iterating moved the estimate toward the top
    assert row["top_share_permille"] == (
        row["top_eig_micro"] * 1000 // row["trace_micro"])
    assert 1000 // dim <= row["top_share_permille"] <= 1000


def test_minimum_cost_supplier_is_the_regional_argmin(spark, catalog):
    """Each returned row must be the true cost-argmin over the ASIA
    suppliers of that part (ties to the lowest suppkey), replayed in
    pure Python, and parts with no ASIA supplier must be absent."""
    out = {r["p_partkey"]: r
           for r in catalog["minimum_cost_supplier"].spark(spark, SF).collect()}
    ps = _synth_partsupp(spark)
    nat = {r["n_nationkey"]: r
           for r in spark.read.parquet(f"{SF}/nation.parquet").collect()}
    asia = {r["r_regionkey"]
            for r in spark.read.parquet(f"{SF}/region.parquet").collect()
            if r["r_name"] == "ASIA"}
    sups = {r["s_suppkey"]: nat[r["s_nationkey"]]["n_name"]
            for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()
            if nat[r["s_nationkey"]]["n_regionkey"] in asia}
    parts = {r["p_partkey"]: r["p_brand"]
             for r in spark.read.parquet(f"{SF}/part.parquet").collect()
             if r["p_size"] <= 10 and r["p_type"] == "STANDARD"}
    best: dict[int, tuple] = {}
    for (pk, sk), (_, cost) in ps.items():
        if pk in parts and sk in sups:
            cand = (cost, sk)
            if pk not in best or cand < best[pk]:
                best[pk] = cand
    assert set(out) == set(best)
    for pk, r in out.items():
        cost, sk = best[pk]
        assert (r["ps_supplycost_cents"], r["s_suppkey"]) == (cost, sk)
        assert r["s_name"] is not None and r["n_name"] == sups[sk]
        assert r["p_brand"] == parts[pk]


def test_product_type_profit_replays_q9(spark, catalog):
    """profit per (nation, year) must equal a pure-Python replay with the
    same per-row integer ten-thousandths discipline — and the integer
    identity must hold exactly: revenue_tenk - cost_tenk, never a float."""
    out = {(r["n_name"], r["o_year"]): r["profit_tenk"]
           for r in catalog["product_type_profit"].spark(spark, SF).collect()}
    ps = _synth_partsupp(spark)
    nat = {r["n_nationkey"]: r["n_name"]
           for r in spark.read.parquet(f"{SF}/nation.parquet").collect()}
    snat = {r["s_suppkey"]: nat[r["s_nationkey"]]
            for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()}
    red = {r["p_partkey"]
           for r in spark.read.parquet(f"{SF}/part.parquet").collect()
           if "red" in r["p_name"]}
    oyear = {r["o_orderkey"]: r["o_orderdate"].year
             for r in spark.read.parquet(f"{SF}/orders.parquet").collect()}
    expect: dict[tuple, int] = {}
    for r in spark.read.parquet(f"{SF}/lineitem.parquet").collect():
        if r["l_partkey"] not in red:
            continue
        amount = round(r["l_extendedprice"] * (1 - r["l_discount"]) * 10000)
        qty100 = round(r["l_quantity"] * 100)
        cost = ps[(r["l_partkey"], r["l_suppkey"])][1] * qty100
        key = (snat[r["l_suppkey"]], oyear[r["l_orderkey"]])
        expect[key] = expect.get(key, 0) + amount - cost
    assert out == expect


def test_video_frame_plan_grid_properties(spark, catalog):
    """Every asset gets exactly 8 slots; the frame grid is endpoints-
    inclusive (slot 0 -> frame 0, slot 7 -> n_frames-1), non-decreasing,
    in range, and timestamps replay the exact integer milli-fps math."""
    rows = catalog["video_frame_plan"].spark(spark, SF).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(by_doc) == n_docs
    fps_tab = (23976, 24000, 25000, 30000)
    for doc_id, rs in by_doc.items():
        assert sorted(r["slot"] for r in rs) == list(range(8))
        dur = (doc_id * 37) % 600000 + 1000
        fps = fps_tab[doc_id % 4]
        nf = dur * fps // 1000000
        idxs = [r["frame_idx"] for r in sorted(rs, key=lambda r: r["slot"])]
        assert rs[0]["n_frames"] == nf
        assert idxs[0] == 0 and idxs[-1] == nf - 1
        assert all(a <= b for a, b in zip(idxs, idxs[1:]))
        for r in rs:
            assert r["frame_idx"] == r["slot"] * (nf - 1) // 7
            assert r["ts_ms"] == r["frame_idx"] * 1000000 // fps
            assert 0 <= r["ts_ms"] <= dur


def test_shipmode_priority_replays_q12(spark, catalog):
    """High/low line counts per mode must equal a pure-Python replay over
    the synthesized (mode, lateness) world, every lineitem row classified
    exactly once as high or low, and the lateness function must match the
    one late_delivery_suppliers uses (one consistent synthetic world)."""
    out = {r["l_shipmode"]: (r["high_line_count"], r["low_line_count"])
           for r in catalog["shipmode_priority"].spark(spark, SF).collect()}
    pri = {r["o_orderkey"]: r["o_orderpriority"]
           for r in spark.read.parquet(f"{SF}/orders.parquet").collect()}
    modes = ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")
    expect: dict[str, list] = {}
    n_late = 0
    for r in spark.read.parquet(f"{SF}/lineitem.parquet").collect():
        ok, ln = r["l_orderkey"], r["l_linenumber"]
        if (ok * 11 + ln * 7) % 45 - (ok * 13 + ln * 5) % 30 <= 0:
            continue
        n_late += 1
        m = modes[(ok * 3 + ln) % 5]
        hi = pri[ok] in ("1-URGENT", "2-HIGH")
        e = expect.setdefault(m, [0, 0])
        e[0 if hi else 1] += 1
    assert out == {m: tuple(v) for m, v in expect.items()}
    assert sum(h + l for h, l in out.values()) == n_late
