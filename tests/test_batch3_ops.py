"""Semantic tests for the round-6 third late batch (beyond oracle
parity, which tests/test_oracle_parity.py already enforces for every
registered row): invariants that pin the MEANING of each operator, so
a refactor that stays hash-stable by accident still can't change
semantics silently."""

from __future__ import annotations

import pytest

from weather_etl_spark.registry import load_all

from tests.conftest import SMOKE_SF_DIR

SPECS = load_all()
SF = "/root/testdata/sf0.01"

_ASOF_TOL_US = 7_200_000_000


def test_asof_tol_is_filtered_asof(spark):
    """q_join_asof_tol == q_join_asof with matches beyond 2 h nulled:
    same rows, and view_ts_us agrees wherever the plain as-of match is
    within tolerance."""
    plain = {
        r["purchase_id"]: r["view_ts_us"]
        for r in SPECS["q_join_asof"].fn(spark, SF).collect()
    }
    tol = {
        r["purchase_id"]: r["view_ts_us"]
        for r in SPECS["q_join_asof_tol"].fn(spark, SF).collect()
    }
    assert set(plain) == set(tol)
    ts_us = {
        r["purchase_id"]: r["ts_us"]
        for r in SPECS["q_join_asof"].fn(spark, SF).collect()
    }
    for pid, v in plain.items():
        want = v if v is not None and ts_us[pid] - v <= _ASOF_TOL_US else None
        assert tol[pid] == want, pid


def test_asof_tol_never_exceeds_tolerance(spark):
    rows = SPECS["q_join_asof_tol"].fn(spark, SF).collect()
    assert any(r["view_ts_us"] is not None for r in rows)
    assert any(r["view_ts_us"] is None for r in rows), (
        "fixture should exercise the tolerance null path"
    )
    for r in rows:
        if r["view_ts_us"] is not None:
            assert 0 <= r["ts_us"] - r["view_ts_us"] <= _ASOF_TOL_US


def test_event_trigrams_support_bounds(spark):
    rows = SPECS["q_event_trigrams"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 20
    types = {"click", "signup", "error", "view", "purchase"}
    for r in rows:
        parts = r["trigram"].split(">")
        assert len(parts) == 3 and set(parts) <= types
        assert 1 <= r["support"] <= r["n_occ"]
    # ranked by support desc, then n_occ desc
    keys = [(-r["support"], -r["n_occ"], r["trigram"]) for r in rows]
    assert keys == sorted(keys)


def test_event_trigrams_matches_python(spark):
    """Differential vs a pure-python recount at the smoke SF."""
    import collections

    ev = sorted(
        SPECS["q_scan_count"]
        .fn(spark, SMOKE_SF_DIR)  # just to reuse the session
        .sparkSession.read.parquet(SMOKE_SF_DIR + "/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    per_user: dict[int, list[str]] = collections.defaultdict(list)
    for r in ev:
        per_user[r["user_id"]].append(r["event_type"])
    occ = collections.Counter()
    sup = collections.defaultdict(set)
    for uid, seq in per_user.items():
        for i in range(len(seq) - 2):
            tg = ">".join(seq[i : i + 3])
            occ[tg] += 1
            sup[tg].add(uid)
    want = sorted(
        ((tg, n, len(sup[tg])) for tg, n in occ.items()),
        key=lambda t: (-t[2], -t[1], t[0]),
    )[:20]
    got = [
        (r["trigram"], r["n_occ"], r["support"])
        for r in SPECS["q_event_trigrams"].fn(spark, SMOKE_SF_DIR).collect()
    ]
    assert got == want


def test_win_peaks_plateaus_not_counted(spark):
    """Strict comparisons: a constant series has zero peaks/valleys.
    Verified per event_type against a pure-python scan at smoke SF."""
    rows = SPECS["q_win_peaks"].fn(spark, SMOKE_SF_DIR).collect()
    ev = sorted(
        spark.read.parquet(SMOKE_SF_DIR + "/events.parquet")
        .select("event_type", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]),
    )
    import collections

    series = collections.defaultdict(list)
    for r in ev:
        series[r["event_type"]].append(r["value"])
    for r in rows:
        vs = series[r["event_type"]]
        peaks = [
            vs[i]
            for i in range(1, len(vs) - 1)
            if vs[i] > vs[i - 1] and vs[i] > vs[i + 1]
        ]
        valleys = [
            vs[i]
            for i in range(1, len(vs) - 1)
            if vs[i] < vs[i - 1] and vs[i] < vs[i + 1]
        ]
        assert r["n_peaks"] == len(peaks)
        assert r["n_valleys"] == len(valleys)
        assert r["max_peak"] == pytest.approx(round(max(peaks), 4))


def test_tpch_q10_ranking_and_money(spark):
    rows = SPECS["q_tpch_q10"].fn(spark, SF).collect()
    assert len(rows) == 20
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r["revenue"] > 0 for r in rows)
    # revenue is an exact DECIMAL(·,8) emitted as double (cents x
    # 6-decimal discount): x*1e8 integral up to double representation
    for r in rows:
        scaled = r["revenue"] * 1e8
        assert abs(scaled - round(scaled)) < 0.1


def test_sql_subqueries_semantics(spark):
    rows = SPECS["q_sql_subqueries"].fn(spark, SF).collect()
    assert rows, "thresholds must keep the result non-empty"
    orders = spark.read.parquet(SF + "/orders.parquet").collect()
    import collections

    by_cust = collections.defaultdict(list)
    for o in orders:
        by_cust[o["o_custkey"]].append(o)
    for r in rows:
        os_ = by_cust[r["c_custkey"]]
        assert r["n_orders"] == len(os_)
        assert r["max_price"] == pytest.approx(
            round(max(o["o_totalprice"] for o in os_), 4)
        )
        assert any(o["o_totalprice"] > 400000 for o in os_)
        assert not any(o["o_orderstatus"] == "F" for o in os_)


def test_ppl_bucket_is_ordered_tercile(spark):
    """head mean <= middle mean <= tail mean per language; bucket
    sizes differ by at most 1 (NTILE contract); doc accounting matches
    the perplexity-eligible population."""
    rows = SPECS["q_llm_ppl_bucket"].fn(spark, SF).collect()
    langs = {}
    for r in rows:
        langs.setdefault(r["lang"], {})[r["bucket"]] = r
    n_eligible = (
        SPECS["q_llm_perplexity"]
        .fn(spark, SF)
        .join(
            spark.read.parquet(SF + "/documents.parquet").select(
                "doc_id", "lang"
            ),
            "doc_id",
        )
        .groupBy("lang")
        .count()
        .collect()
    )
    want_n = {r["lang"]: r["count"] for r in n_eligible}
    for lang, buckets in langs.items():
        assert set(buckets) == {"head", "middle", "tail"}
        assert (
            buckets["head"]["mean_nll"]
            <= buckets["middle"]["mean_nll"]
            <= buckets["tail"]["mean_nll"]
        )
        sizes = sorted(b["n_docs"] for b in buckets.values())
        assert sizes[-1] - sizes[0] <= 1
        assert sum(sizes) == want_n[lang]


# -- batch 4 (Holt / SCD2 lookup / SRM / Adamic-Adar / profiler) ---------


def test_holt_matches_python_recursion(spark):
    """Differential: recompute the Holt recursion in pure python from
    the raw events at smoke SF and compare unrounded to 1e-9."""
    import collections

    ev = spark.read.parquet(SMOKE_SF_DIR + "/events.parquet").collect()
    from decimal import Decimal

    buckets = collections.defaultdict(list)
    for r in ev:
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        buckets[(r["event_type"], h)].append(r["value"])
    series = collections.defaultdict(list)
    for (typ, h), vals in buckets.items():
        y = float(
            sum(Decimal(str(round(v, 6))) for v in vals)
        ) / len(vals)
        series[typ].append((h, y))
    want = {}
    for typ, pts in series.items():
        pts.sort()
        l = b = 0.0
        for i, (h, y) in enumerate(pts):
            if i == 0:
                l, b = y, 0.0
            else:
                ln = 0.5 * y + 0.5 * (l + b)
                b = 0.3 * (ln - l) + 0.7 * b
                l = ln
            want[(typ, int(h.timestamp() * 1_000_000))] = (l, b)
    got = SPECS["q_time_holt"].fn(spark, SMOKE_SF_DIR).collect()
    assert len(got) == len(want)
    for r in got:
        wl, wb = want[(r["event_type"], r["h_us"])]
        assert r["level"] == pytest.approx(wl, abs=1e-3)
        assert r["trend"] == pytest.approx(wb, abs=1e-3)
        assert r["forecast"] == pytest.approx(wl + wb, abs=2e-3)


def test_scd2_lookup_agrees_with_intervals(spark):
    """Every purchase's looked-up version must be the unique SCD2
    interval containing its timestamp (recomputed from
    q_scd2_intervals plus the change stream)."""
    iv = SPECS["q_scd2_intervals"].fn(spark, SF).collect()
    by_user = {}
    for r in iv:
        by_user.setdefault(r["user_id"], []).append(r)
    got = SPECS["q_join_scd2_lookup"].fn(spark, SF).collect()
    n_matched = 0
    for r in got:
        spans = by_user.get(r["user_id"], [])
        hits = [
            s
            for s in spans
            if s["eff_from_us"] <= r["ts_us"]
            and (s["eff_to_us"] is None or r["ts_us"] < s["eff_to_us"])
        ]
        assert len(hits) <= 1, "SCD2 intervals must tile disjointly"
        if r["version"] is not None:
            n_matched += 1
            # version numbering may differ only on duplicate-(user,ts)
            # change ties; values must agree exactly
            assert hits and hits[0]["version"] == r["version"]
            assert r["dim_value"] == pytest.approx(
                round(hits[0]["value"], 4)
            )
        else:
            assert not hits
    assert n_matched > 0


def test_srm_counts_partition_users(spark):
    row = SPECS["q_agg_ab_srm"].fn(spark, SF).collect()[0]
    n_users = (
        spark.read.parquet(SF + "/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert row["n_a"] + row["n_b"] == n_users
    assert row["chi2"] >= 0
    # flag consistent with the 3.841 critical value
    assert row["srm_flag"] == (row["chi2"] > 3.841)


def test_adamic_adar_invariants(spark):
    rows = SPECS["q_graph_adamic_adar"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 25
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["n_common"] >= 1
        assert 0 < r["jaccard"] <= 1
        # AA of k shared neighbors each with deg >= 2 is bounded by
        # k / ln(2)
        assert 0 < r["adamic_adar"] <= r["n_common"] / 0.693 + 1e-6
    keys = [
        (-r["adamic_adar"], -r["n_common"], r["part_a"], r["part_b"])
        for r in rows
    ]
    assert keys == sorted(keys)


def test_column_stats_match_table(spark):
    rows = {
        r["col"]: r
        for r in SPECS["q_scan_column_stats"].fn(spark, SF).collect()
    }
    od = spark.read.parquet(SF + "/orders.parquet")
    n = od.count()
    assert set(rows) == {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    }
    for c, r in rows.items():
        assert r["n"] == n
        assert r["n_null"] == n - od.filter(f"{c} IS NOT NULL").count()
        assert r["n_distinct"] == od.select(c).distinct().count() - (
            1 if r["n_null"] else 0
        )
    assert rows["o_orderkey"]["n_distinct"] == n  # PK is unique


# -- batch 5 (perceptual hash / seasonal / malformed CSV) ----------------


def test_phash_banding_is_complete(spark):
    """The banded candidate path must find EXACTLY the pairs a naive
    all-pairs Hamming scan finds (pigeonhole completeness), recomputed
    in pure python from the registered hash function."""
    from weather_etl_spark.media import (
        ahash16,
        decode_image,
        doc_pixels,
        encode_bmp,
        encode_ppm,
    )

    docs = (
        spark.read.parquet(SF + "/documents.parquet")
        .filter("doc_id <= 200")
        .select("doc_id", "text")
        .collect()
    )
    hashes = {}
    for r in docs:
        tb = r["text"].encode("utf-8")
        w, h = len(tb) % 31 + 1, (len(tb) * 7) % 17 + 1
        if w < 4 or h < 4:
            continue
        enc = encode_ppm if r["doc_id"] % 2 == 0 else encode_bmp
        _fmt, dw, dh, pix = decode_image(enc(w, h, doc_pixels(tb, w, h)))
        assert (dw, dh) == (w, h)
        hashes[r["doc_id"]] = ahash16(dw, dh, pix)
    ids = sorted(hashes)
    want = [
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(hashes[a] ^ hashes[b]).count("1") <= 3
    ]
    got = [
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in SPECS["llm_mm_phash_dedup"].fn(spark, SF).collect()
    ]
    assert got == want
    assert want, "fixture should produce at least one near-dup pair"


def test_phash_identical_pixels_collide(spark):
    """Every pair with identical decoded pixel content (same text
    bytes after truncate/pad => same w, h, pixels) must appear with
    dist 0 — aHash is a pure function of content."""
    from weather_etl_spark.media import doc_pixels

    docs = (
        spark.read.parquet(SF + "/documents.parquet")
        .filter("doc_id <= 200")
        .select("doc_id", "text")
        .collect()
    )
    content = {}
    for r in docs:
        tb = r["text"].encode("utf-8")
        w, h = len(tb) % 31 + 1, (len(tb) * 7) % 17 + 1
        if w < 4 or h < 4:
            continue
        content.setdefault((w, h, doc_pixels(tb, w, h)), []).append(
            r["doc_id"]
        )
    same_pixel_pairs = {
        (a, b)
        for ids in content.values()
        for i, a in enumerate(sorted(ids))
        for b in sorted(ids)[i + 1 :]
    }
    rows = SPECS["llm_mm_phash_dedup"].fn(spark, SF).collect()
    assert all(0 <= r["dist"] <= 3 for r in rows)
    zero = {(r["doc_a"], r["doc_b"]) for r in rows if r["dist"] == 0}
    assert same_pixel_pairs <= zero


def test_seasonal_profile_accounting(spark):
    rows = SPECS["q_time_seasonal"].fn(spark, SF).collect()
    import collections

    by_type = collections.defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r)
    ev_n = (
        spark.read.parquet(SF + "/events.parquet")
        .groupBy("event_type")
        .count()
        .collect()
    )
    want_n = {r["event_type"]: r["count"] for r in ev_n}
    for typ, rs in by_type.items():
        assert len(rs) == 24  # every hour observed at sf0.01
        assert sum(r["n"] for r in rs) == want_n[typ]
        # seasonal indices are deviations from the type mean: their
        # n-weighted sum is ~0 (up to 4dp rounding per bucket)
        wsum = sum(r["seasonal_idx"] * r["n"] for r in rs)
        assert abs(wsum) < 0.01 * want_n[typ]


def test_csv_malformed_triage(spark):
    row = SPECS["src_csv_malformed"].fn(spark, SF).collect()[0]
    nat = spark.read.parquet(SF + "/nation.parquet").collect()
    bad = [r for r in nat if r["n_nationkey"] % 7 == 3]
    good = [r for r in nat if r["n_nationkey"] % 7 != 3]
    assert row["n_rows"] == len(nat)
    assert row["n_bad"] == len(bad) and row["n_good"] == len(good)
    assert row["bad_key_sum"] == sum(r["n_nationkey"] for r in bad)
    assert row["good_key_sum"] == sum(r["n_nationkey"] for r in good)
    assert row["good_region_sum"] == sum(r["n_regionkey"] for r in good)
    assert row["first_bad_name"] == min(r["n_name"] for r in bad)


# -- batch 6 (time-window semi / rolling slope) --------------------------


def test_time_window_semi_matches_python(spark):
    """Differential vs a brute-force python scan at the driver SF."""
    ev = spark.read.parquet(SF + "/events.parquet").collect()
    import collections

    errs = collections.defaultdict(list)
    for r in ev:
        if r["event_type"] == "error":
            errs[r["user_id"]].append(r["ts"])
    want = set()
    from datetime import timedelta

    tol = timedelta(hours=1)
    for r in ev:
        if r["event_type"] == "purchase" and any(
            abs(r["ts"] - e) <= tol for e in errs.get(r["user_id"], [])
        ):
            want.add(r["event_id"])
    got = {
        r["purchase_id"]
        for r in SPECS["q_join_time_window_semi"].fn(spark, SF).collect()
    }
    assert got == want
    assert want, "fixture should produce matches"
    n_purch = sum(1 for r in ev if r["event_type"] == "purchase")
    assert len(want) < n_purch, "semi-join should actually filter"


def test_win_slope_matches_python(spark):
    """Differential: numpy polyfit agrees with the integer-exact
    slope to 4 decimals on every non-degenerate frame (smoke SF)."""
    import collections

    ev = sorted(
        spark.read.parquet(SMOKE_SF_DIR + "/events.parquet").collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]),
    )
    series = collections.defaultdict(list)
    for r in ev:
        series[r["event_type"]].append(
            (r["event_id"], int(round(r["value"] * 100)))
        )
    want = {}
    for typ, pts in series.items():
        for i, (eid, _y) in enumerate(pts):
            lo = max(0, i - 23)
            xs = list(range(lo + 1, i + 2))
            ys = [pts[j][1] for j in range(lo, i + 1)]
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(a * b for a, b in zip(xs, ys))
            sx2 = sum(a * a for a in xs)
            den = n * sx2 - sx * sx
            if den == 0:
                want[eid] = None
                continue
            num = (n * sxy - sx * sy) * 10000
            q, sign = abs(num), 1 if num >= 0 else -1
            want[eid] = sign * ((2 * q + den) // (2 * den)) / 10000
    got = {
        r["event_id"]: r["slope"]
        for r in SPECS["q_win_slope"].fn(spark, SMOKE_SF_DIR).collect()
    }
    assert got == want


def test_time_window_anti_is_exact_complement(spark):
    """semi ∪ anti = all purchases, disjoint."""
    semi = {
        r["purchase_id"]
        for r in SPECS["q_join_time_window_semi"].fn(spark, SF).collect()
    }
    anti = {
        r["purchase_id"]
        for r in SPECS["q_join_time_window_anti"].fn(spark, SF).collect()
    }
    assert not (semi & anti)
    n_purch = (
        spark.read.parquet(SF + "/events.parquet")
        .filter("event_type = 'purchase'")
        .count()
    )
    assert len(semi) + len(anti) == n_purch


def test_bpe_train_matches_python(spark):
    """Differential: a pure-python BPE trainer (explicit token lists,
    no string tricks) must produce the identical merge table at the
    smoke SF — proving the double-space replace implements real BPE
    merge semantics."""
    import collections

    docs = [
        r["text"].split(" ")
        for r in spark.read.parquet(
            SMOKE_SF_DIR + "/documents.parquet"
        ).collect()
    ]
    want = []
    for step in range(1, 6):
        cnt = collections.Counter()
        for toks in docs:
            for i in range(len(toks) - 1):
                cnt[(toks[i], toks[i + 1])] += 1
        if not cnt:
            break
        pair = min(cnt, key=lambda p: (-cnt[p], " ".join(p)))
        merged = []
        n_after = 0
        for toks in docs:
            out = []
            i = 0
            while i < len(toks):
                if (
                    i + 1 < len(toks)
                    and (toks[i], toks[i + 1]) == pair
                ):
                    out.append(toks[i] + "+" + toks[i + 1])
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            merged.append(out)
            n_after += len(out)
        docs = merged
        want.append((step, " ".join(pair), cnt[pair], n_after))
    got = sorted(
        (r["step"], r["pair"], r["cnt"], r["tokens_after"])
        for r in SPECS["q_llm_bpe_train"].fn(spark, SMOKE_SF_DIR).collect()
    )
    assert got == want


def test_bpe_train_merge_counts_monotone_context(spark):
    rows = sorted(
        SPECS["q_llm_bpe_train"].fn(spark, SF).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["cnt"] > 0 and " " in r["pair"] for r in rows)
    # each merge removes exactly cnt tokens from the corpus
    toks = [r["tokens_after"] for r in rows]
    assert toks == sorted(toks, reverse=True)
    for a, b, r in zip(toks, toks[1:], rows[1:]):
        assert a - b == r["cnt"]


def test_tpch_q18_threshold_semantics(spark):
    rows = SPECS["q_tpch_q18"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 25
    assert all(r["sum_qty"] > 300 for r in rows)
    prices = [r["total_price"] for r in rows]
    assert prices == sorted(prices, reverse=True)
    # every reported order's quantity re-derives from raw lineitem
    li = (
        spark.read.parquet(SF + "/lineitem.parquet")
        .groupBy("l_orderkey")
        .sum("l_quantity")
        .collect()
    )
    qty = {r["l_orderkey"]: int(round(r["sum(l_quantity)"])) for r in li}
    for r in rows:
        assert qty[r["o_orderkey"]] == r["sum_qty"]


def test_rolling_median_matches_python(spark):
    import collections, statistics

    ev = sorted(
        spark.read.parquet(SMOKE_SF_DIR + "/events.parquet").collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]),
    )
    series = collections.defaultdict(list)
    for r in ev:
        series[r["event_type"]].append(
            (r["event_id"], int(round(r["value"] * 100)))
        )
    want = {}
    for typ, pts in series.items():
        for i, (eid, _y) in enumerate(pts):
            frame = [y for _e, y in pts[max(0, i - 23) : i + 1]]
            want[eid] = statistics.median(frame) / 100
    got = {
        r["event_id"]: r["med"]
        for r in SPECS["q_win_rolling_median"].fn(spark, SMOKE_SF_DIR).collect()
    }
    assert got == want


def test_semdedup_keep_rule(spark):
    """Exactly one kept member per duplicate clique side: for every
    dropped vector there exists a same-bucket neighbor with lower
    (c_sim, id) that is closer to the centroid — and the global
    minimum of each bucket's duplicate set is always kept."""
    rows = SPECS["q_llm_semdedup"].fn(spark, SF).collect()
    assert any(not r["kept"] for r in rows), "fixture should drop some"
    assert any(r["kept"] and r["n_dups"] > 0 for r in rows), (
        "edge examples with duplicates should survive"
    )
    import collections

    by_bucket = collections.defaultdict(list)
    for r in rows:
        by_bucket[r["bucket"]].append(r)
    for bucket, rs in by_bucket.items():
        dups = [r for r in rs if r["n_dups"] > 0]
        if dups:
            best = min(dups, key=lambda r: (r["c_sim"], r["vec_id"]))
            assert best["kept"], (bucket, best)
    # every vector accounted for exactly once
    assert len(rows) == 500
    assert len({r["vec_id"] for r in rows}) == 500


def test_apply_bpe_consistent_with_train(spark):
    """Corpus-wide n_merged must equal the train table's total merge
    count, and every doc's token delta is non-negative."""
    train = SPECS["q_llm_bpe_train"].fn(spark, SF).collect()
    apply = SPECS["q_llm_apply_bpe"].fn(spark, SF).collect()
    assert sum(r["cnt"] for r in train) == sum(
        r["n_merged"] for r in apply
    )
    for r in apply:
        assert 0 <= r["n_merged"] < r["n_before"] or (
            r["n_merged"] == 0 and r["n_before"] == r["n_after"]
        )
        assert r["n_before"] - r["n_after"] == r["n_merged"]


def test_lpa_communities_partition_nodes(spark):
    rows = SPECS["q_graph_lpa_communities"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 25
    sizes = [r["n_members"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    for r in rows:
        # a community's label is one of its own nodes' initial labels,
        # so min_node <= community can only fail if the label migrated
        # out of the community — LPA allows that, but the label must
        # still be a real part key
        assert r["n_members"] >= 1
    # deterministic across re-execution
    again = SPECS["q_graph_lpa_communities"].fn(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_csv_quoted_roundtrip_is_lossless(spark):
    row = SPECS["snk_csv_quoted"].fn(spark, SF).collect()[0]
    nat = spark.read.parquet(SF + "/nation.parquet").collect()
    strings = ['a,"' + r["n_name"] + '"\ntail,' for r in nat]
    assert row["n"] == len(strings)
    assert row["total_bytes"] == sum(
        len(s.encode("utf-8")) for s in strings
    )
    assert row["n_distinct"] == len(set(strings))
    assert row["min_s"] == min(strings)
    assert row["key_sum"] == sum(r["n_nationkey"] for r in nat)


def test_mark_join_flag_semantics(spark):
    rows = SPECS["q_join_mark"].fn(spark, SF).collect()
    orders = spark.read.parquet(SF + "/orders.parquet").collect()
    big = {o["o_custkey"] for o in orders if o["o_totalprice"] > 450000}
    n_cust = spark.read.parquet(SF + "/customer.parquet").count()
    assert len(rows) == n_cust, "mark join must not filter rows"
    for r in rows:
        assert r["has_big_order"] == (r["c_custkey"] in big)
    assert any(r["has_big_order"] for r in rows)
    assert any(not r["has_big_order"] for r in rows)


def test_json_malformed_triage(spark):
    row = SPECS["src_json_malformed"].fn(spark, SF).collect()[0]
    nat = spark.read.parquet(SF + "/nation.parquet").collect()
    bad = [r for r in nat if r["n_nationkey"] % 5 == 2]
    good = [r for r in nat if r["n_nationkey"] % 5 != 2]
    assert row["n_rows"] == len(nat)
    assert row["n_bad"] == len(bad) and row["n_good"] == len(good)
    assert row["good_key_sum"] == sum(r["n_nationkey"] for r in good)
    assert row["first_good_name"] == min(r["n_name"] for r in good)


def test_ttest_matches_scipy_formula(spark):
    """Differential vs a pure-python Welch computation from raw
    events (no scipy in the container; the closed form IS the test)."""
    import math

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    xs = [
        int(round(r["value"] * 100))
        for r in ev
        if r["event_type"] == "view"
    ]
    ys = [
        int(round(r["value"] * 100))
        for r in ev
        if r["event_type"] == "purchase"
    ]

    def moments(v):
        n = len(v)
        s = float(sum(v))
        ss = float(sum(x * x for x in v))
        return n, s / n, (ss - s * s / n) / (n - 1)

    nx, mx, vx = moments(xs)
    ny, my, vy = moments(ys)
    ax, ay = vx / nx, vy / ny
    t = (mx - my) / math.sqrt(ax + ay)
    dof = (ax + ay) ** 2 / (ax**2 / (nx - 1) + ay**2 / (ny - 1))
    row = SPECS["q_agg_ttest"].fn(spark, SF).collect()[0]
    assert row["nx"] == nx and row["ny"] == ny
    assert row["t_stat"] == pytest.approx(round(t, 4), abs=1e-4)
    assert row["dof"] == pytest.approx(round(dof, 2), abs=1e-2)
    assert row["significant"] == (abs(t) > 1.96)


def test_cusum_matches_python_recursion(spark):
    import collections
    from decimal import Decimal

    ev = spark.read.parquet(SMOKE_SF_DIR + "/events.parquet").collect()
    buckets = collections.defaultdict(list)
    totals = collections.defaultdict(list)
    for r in ev:
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        buckets[(r["event_type"], h)].append(r["value"])
        totals[r["event_type"]].append(r["value"])
    mu = {
        t: float(sum(Decimal(str(round(v, 6))) for v in vs)) / len(vs)
        for t, vs in totals.items()
    }
    series = collections.defaultdict(list)
    for (t, h), vs in buckets.items():
        y = float(sum(Decimal(str(round(v, 6))) for v in vs)) / len(vs)
        series[t].append((h, y))
    want = {}
    for t, pts in series.items():
        pts.sort()
        s = 0.0
        for h, y in pts:
            s = max(0.0, s + (y - mu[t] - 0.5))
            want[(t, int(h.timestamp() * 1_000_000))] = s
    got = SPECS["q_time_cusum"].fn(spark, SMOKE_SF_DIR).collect()
    assert len(got) == len(want)
    for r in got:
        w = want[(r["event_type"], r["h_us"])]
        assert r["cusum"] == pytest.approx(round(w, 4), abs=1e-3)
        assert r["alarm"] == (w > 50.0)


def test_mannwhitney_matches_python(spark):
    """Differential vs a pure-python midrank U computation."""
    import math

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    xs = [
        int(round(r["value"] * 100))
        for r in ev
        if r["event_type"] == "view"
    ]
    ys = [
        int(round(r["value"] * 100))
        for r in ev
        if r["event_type"] == "purchase"
    ]
    allv = sorted(
        [(v, "x") for v in xs] + [(v, "y") for v in ys]
    )
    # midranks
    import collections

    pos = collections.defaultdict(list)
    for i, (v, g) in enumerate(allv, start=1):
        pos[v].append((i, g))
    rx = 0.0
    tie_term = 0.0
    for v, items in pos.items():
        ar = sum(i for i, _g in items) / len(items)
        rx += ar * sum(1 for _i, g in items if g == "x")
        c = len(items)
        tie_term += c**3 - c
    nx, ny = len(xs), len(ys)
    u = rx - nx * (nx + 1) / 2
    mu = nx * ny / 2
    n = nx + ny
    sigma = math.sqrt(
        nx * ny / 12 * ((n + 1) - tie_term / (n * (n - 1)))
    )
    z = (u - mu) / sigma
    row = SPECS["q_agg_mannwhitney"].fn(spark, SF).collect()[0]
    assert row["nx"] == nx and row["ny"] == ny
    assert row["u2"] == int(2 * u)
    assert row["z"] == pytest.approx(round(z, 4), abs=1e-3)
    assert row["significant"] == (abs(z) > 1.96)


def test_llm_pipeline_composition_accounting(spark):
    """The composite's per-stage numbers must re-derive from the
    standalone semantics on raw documents."""
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    import collections, hashlib

    per_lang_in = collections.Counter()
    kept = collections.defaultdict(list)
    seen = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        n_tok = len(r["text"].split(" "))
        if not (30 <= n_tok <= 500):
            continue
        per_lang_in[r["lang"]] += 1
        h = hashlib.md5(r["text"].encode()).hexdigest()
        if h in seen:
            continue
        seen[h] = r["doc_id"]
        kept[r["lang"]].append(n_tok)
    rows = {
        r["lang"]: r
        for r in SPECS["pipe_llm_corpus_e2e"].fn(spark, SF).collect()
    }
    assert set(rows) == set(per_lang_in)
    for lang, r in rows.items():
        assert r["n_in"] == per_lang_in[lang]
        assert r["n_kept"] == len(kept[lang])
        assert r["n_dropped"] == r["n_in"] - r["n_kept"]
        assert r["total_tokens"] == sum(kept[lang])
        # greedy packing pack count: cum-sum prefix buckets
        cum = 0
        packs = set()
        for t in kept[lang]:
            packs.add(cum // 512)
            cum += t
        assert r["n_packs"] == len(packs)


def test_hll_rollup_merge_equals_direct_sketch(spark):
    """The merged day sketches must equal the sketch built directly
    over the full stream (associativity), and sum-of-day estimates
    must exceed the merged estimate whenever users span days."""
    direct = {
        r["event_type"]: r["hll_est"]
        for r in SPECS["q_agg_hll_portable"].fn(spark, SF).collect()
    }
    rolled = SPECS["q_agg_hll_rollup"].fn(spark, SF).collect()
    for r in rolled:
        assert r["merged_est"] == direct[r["event_type"]]
        assert r["sum_day_est"] > r["merged_est"], (
            "day-active users overlap, so naive summing must inflate"
        )
        assert r["n_days"] == 30


def test_asof_nearest_picks_the_closer_side(spark):
    """Consistency with the directional as-ofs: nearest equals
    whichever of backward/forward is closer, ties backward."""
    back = {
        r["purchase_id"]: r["view_ts_us"]
        for r in SPECS["q_join_asof"].fn(spark, SF).collect()
    }
    near = SPECS["q_join_asof_nearest"].fn(spark, SF).collect()
    assert set(back) == {r["purchase_id"] for r in near}
    n_fwd = 0
    for r in near:
        b = back[r["purchase_id"]]
        if r["direction"] == "back":
            assert r["view_ts_us"] == b
            if b is not None:
                assert r["ts_us"] - b >= 0
        elif r["direction"] == "fwd":
            n_fwd += 1
            assert r["view_ts_us"] > r["ts_us"]
            if b is not None:
                # forward won strictly (ties go backward)
                assert (r["view_ts_us"] - r["ts_us"]) < (r["ts_us"] - b)
        else:
            assert r["view_ts_us"] is None and b is None
    assert n_fwd > 0, "fixture should exercise the forward branch"


def test_hhi_bounds_and_python_differential(spark):
    rows = SPECS["q_agg_hhi"].fn(spark, SF).collect()
    import collections

    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.read.parquet(SF + "/customer.parquet").collect()
    }
    rev = collections.defaultdict(lambda: collections.defaultdict(int))
    for o in spark.read.parquet(SF + "/orders.parquet").collect():
        seg = cust[o["o_custkey"]]
        rev[seg][o["o_custkey"]] += int(round(o["o_totalprice"] * 100))
    for r in rows:
        rs = list(rev[r["c_mktsegment"]].values())
        assert r["n_customers"] == len(rs)
        hhi = 10000.0 * sum(x * x for x in rs) / (float(sum(rs)) * sum(rs))
        assert r["hhi_pts"] == pytest.approx(round(hhi, 4), abs=1e-3)
        # bounds: 10000/n (perfectly even) <= HHI <= 10000 (monopoly)
        assert 10000.0 / len(rs) - 1e-6 <= r["hhi_pts"] <= 10000.0


def test_mutual_info_nonneg_and_python_differential(spark):
    import collections, math

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    joint = collections.Counter(
        (r["event_type"], r["ts"].hour) for r in ev
    )
    n = sum(joint.values())
    mx = collections.Counter()
    my = collections.Counter()
    for (t, h), c in joint.items():
        mx[t] += c
        my[h] += c
    mi = sum(
        round(c / n * math.log(c * n / (mx[t] * my[h])), 8)
        for (t, h), c in joint.items()
    )
    row = SPECS["q_agg_mutual_info"].fn(spark, SF).collect()[0]
    assert row["n_events"] == n
    assert row["n_cells"] == len(joint)
    assert row["mi_nats"] == pytest.approx(round(mi, 4), abs=1e-4)
    assert row["mi_nats"] >= -1e-6  # MI is non-negative


def test_interarrival_matches_python(spark):
    import collections, statistics

    ev = sorted(
        spark.read.parquet(SF + "/events.parquet").collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]),
    )
    gaps = collections.defaultdict(list)
    prev = {}
    for r in ev:
        us = int(
            r["ts"].replace(tzinfo=__import__("datetime").timezone.utc)
            .timestamp() * 1_000_000
        )
        if r["event_type"] in prev:
            gaps[r["event_type"]].append(us - prev[r["event_type"]])
        prev[r["event_type"]] = us
    for r in SPECS["q_event_interarrival"].fn(spark, SF).collect():
        g = gaps[r["event_type"]]
        assert r["n_gaps"] == len(g)
        assert r["min_us"] == min(g) and r["max_us"] == max(g)
        assert r["total_us"] == sum(g)
        assert r["median_us"] == statistics.median(g)


def test_kl_divergence_nonneg_and_python(spark):
    import collections, math

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    p = collections.Counter(
        r["ts"].hour for r in ev if r["event_type"] == "view"
    )
    q = collections.Counter(
        r["ts"].hour for r in ev if r["event_type"] == "purchase"
    )
    tp, tq = sum(p.values()), sum(q.values())
    kl = sum(
        round(p[h] / tp * math.log(p[h] * tq / (q[h] * tp)), 8)
        for h in p
        if h in q
    )
    row = SPECS["q_agg_kl_divergence"].fn(spark, SF).collect()[0]
    assert row["n_view"] == tp and row["n_purchase"] == tq
    assert row["n_bins"] == len(set(p) & set(q)) == 24
    assert row["kl_nats"] == pytest.approx(round(kl, 4), abs=1e-4)
    assert row["kl_nats"] >= -1e-6


def test_js_divergence_bounded_and_python(spark):
    import collections, math

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    p = collections.Counter(
        r["ts"].hour for r in ev if r["event_type"] == "view"
    )
    q = collections.Counter(
        r["ts"].hour for r in ev if r["event_type"] == "purchase"
    )
    tp, tq = sum(p.values()), sum(q.values())
    js = 0.0
    for h in set(p) & set(q):
        pp, qq = p[h] / tp, q[h] / tq
        m = 0.5 * (pp + qq)
        js += round(
            0.5 * pp * math.log(pp / m) + 0.5 * qq * math.log(qq / m), 8
        )
    row = SPECS["q_agg_js_divergence"].fn(spark, SF).collect()[0]
    assert row["js_nats"] == pytest.approx(round(js, 4), abs=1e-4)
    assert -1e-6 <= row["js_nats"] <= math.log(2) + 1e-6
    # JS (a true average of divergences to the midpoint) never
    # exceeds the directed KL on the same support
    kl = SPECS["q_agg_kl_divergence"].fn(spark, SF).collect()[0]
    assert row["js_nats"] <= kl["kl_nats"] + 1e-6


def test_drawdown_matches_python(spark):
    import collections

    ev = sorted(
        spark.read.parquet(SF + "/events.parquet").collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]),
    )
    series = collections.defaultdict(list)
    for r in ev:
        series[r["event_type"]].append(int(round(r["value"] * 100)))
    for r in SPECS["q_win_drawdown"].fn(spark, SF).collect():
        cum = peak = dd = n_at = 0
        for v in series[r["event_type"]]:
            cum += v
            if cum >= peak:
                peak = cum
            if cum == peak:
                n_at += 1
            dd = max(dd, peak - cum)
        assert r["max_drawdown_cents"] == dd
        assert r["n_at_peak"] == n_at
        assert r["final_peak_cents"] == peak


def test_entropy_rate_equals_mean_perplexity_nll(spark):
    """The corpus entropy rate must equal the bigram-weighted mean of
    q_llm_perplexity's per-doc NLLs (same LM, same corpus) up to the
    per-term rounding layers."""
    ppl = SPECS["q_llm_perplexity"].fn(spark, SF).collect()
    total_nll = sum(r["avg_nll"] * r["n_bigrams"] for r in ppl)
    total_bg = sum(r["n_bigrams"] for r in ppl)
    row = SPECS["q_llm_entropy_rate"].fn(spark, SF).collect()[0]
    assert row["n_bigrams"] == total_bg
    assert row["h_rate_nats"] == pytest.approx(
        total_nll / total_bg, abs=1e-3
    )
    assert row["n_distinct_bigrams"] <= total_bg


def test_runs_test_matches_python(spark):
    import collections, math, statistics

    ev = sorted(
        spark.read.parquet(SF + "/events.parquet").collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]),
    )
    series = collections.defaultdict(list)
    for r in ev:
        series[r["event_type"]].append(int(round(r["value"] * 100)))
    for row in SPECS["q_agg_runs_test"].fn(spark, SF).collect():
        vs = series[row["event_type"]]
        med2 = int(2 * statistics.median(vs))
        flags = [1 if 2 * v > med2 else 0 for v in vs if 2 * v != med2]
        n1, n2 = sum(flags), len(flags) - sum(flags)
        runs = 1 + sum(
            1 for a, b in zip(flags, flags[1:]) if a != b
        )
        assert row["n_above"] == n1 and row["n_below"] == n2
        assert row["n_runs"] == runs
        n = n1 + n2
        mu = 1 + 2 * n1 * n2 / n
        var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
        z = (runs - mu) / math.sqrt(var)
        assert row["z"] == pytest.approx(round(z, 4), abs=1e-3)
        assert row["nonrandom"] == (abs(z) > 1.96)


def test_dup_size_hist_accounts_for_corpus(spark):
    rows = SPECS["q_llm_dup_size_hist"].fn(spark, SF).collect()
    n_docs = spark.read.parquet(SF + "/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        assert r["n_removable"] == (r["cluster_size"] - 1) * r["n_clusters"]
    # consistency with the enumerating op: q_llm_exact_dedup emits one
    # row per distinct text, so removable = corpus - distinct
    n_distinct = SPECS["q_llm_exact_dedup"].fn(spark, SF).count()
    assert sum(r["n_removable"] for r in rows) == n_docs - n_distinct
    assert sum(r["n_clusters"] for r in rows) == n_distinct


def test_split3_disjoint_and_complete(spark):
    rows = SPECS["q_sample_split3"].fn(spark, SF).collect()
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    import collections, hashlib

    want = collections.Counter()
    for r in docs:
        b = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:4], 16) % 10
        split = "train" if b <= 7 else ("val" if b == 8 else "test")
        want[(r["lang"], split)] += 1
    got = {(r["lang"], r["split"]): r["n_docs"] for r in rows}
    assert got == dict(want)
    n = sum(got.values())
    n_train = sum(v for (l, s), v in got.items() if s == "train")
    assert 0.7 < n_train / n < 0.9  # ~80% by construction


def test_dau_wau_matches_python(spark):
    import collections, datetime

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    ud = collections.defaultdict(set)
    for r in ev:
        ud[r["ts"].date()].add(r["user_id"])
    want = {}
    for day in ud:
        week_users = set()
        for back in range(7):
            week_users |= ud.get(day - datetime.timedelta(days=back), set())
        want[day] = (len(ud[day]), len(week_users))
    got = {
        r["day"]: (r["dau"], r["wau"], r["stickiness"])
        for r in SPECS["q_event_dau_wau"].fn(spark, SF).collect()
    }
    assert set(got) == set(want)
    for day, (dau, wau) in want.items():
        gd, gw, st = got[day]
        assert (gd, gw) == (dau, wau)
        assert st == pytest.approx(round(dau / wau, 4))
        assert 0 < st <= 1


def test_tpch_q14_share_consistent(spark):
    row = SPECS["q_tpch_q14"].fn(spark, SF).collect()[0]
    assert 0 < row["promo_revenue"] < row["total_revenue"]
    assert row["promo_share_pct"] == pytest.approx(
        round(100.0 * row["promo_revenue"] / row["total_revenue"], 4)
    )
    # PROMO is 1 of 6 uniform p_type values -> share in a sane band
    assert 5 < row["promo_share_pct"] < 35


def test_chisq_matches_python(spark):
    import collections, math

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    joint = collections.Counter(
        (r["event_type"], r["ts"].hour) for r in ev
    )
    nx = collections.Counter()
    ny = collections.Counter()
    for (t, h), c in joint.items():
        nx[t] += c
        ny[h] += c
    n = sum(joint.values())
    chi2 = 0.0
    for t in nx:
        for h in ny:
            o = joint.get((t, h), 0)
            e = nx[t] * ny[h] / n
            chi2 += (o - e) ** 2 / e
    row = SPECS["q_agg_chisq"].fn(spark, SF).collect()[0]
    assert row["n_events"] == n
    assert row["dof"] == (len(nx) - 1) * (len(ny) - 1)
    assert row["chi2"] == pytest.approx(chi2, abs=1e-2)
    v = math.sqrt(chi2 / (n * min(len(nx) - 1, len(ny) - 1)))
    assert row["cramers_v"] == pytest.approx(round(v, 4), abs=1e-3)
    assert 0 <= row["cramers_v"] <= 1


def test_spearman_matches_python(spark):
    import collections

    def avg_ranks(vals):
        srt = sorted(vals)
        first = {}
        cnt = collections.Counter(vals)
        pos = 0
        for v in srt:
            if v not in first:
                first[v] = pos
            pos += 1
        return {v: first[v] + (cnt[v] + 1) / 2 for v in cnt}

    li = spark.read.parquet(SF + "/lineitem.parquet").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    by_flag = collections.defaultdict(list)
    for r in li:
        by_flag[r["l_returnflag"]].append(
            (r["l_quantity"], r["l_extendedprice"])
        )
    got = {
        r["l_returnflag"]: (r["n"], r["rho_spearman"])
        for r in SPECS["q_agg_spearman"].fn(spark, SF).collect()
    }
    assert set(got) == set(by_flag)
    for flag, rows in by_flag.items():
        rx = avg_ranks([q for q, _ in rows])
        ry = avg_ranks([p for _, p in rows])
        xs = [rx[q] for q, _ in rows]
        ys = [ry[p] for _, p in rows]
        n = len(rows)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        rho = (n * sxy - sx * sy) / (
            ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
        )
        assert got[flag][0] == n
        assert got[flag][1] == pytest.approx(rho, abs=1e-3), flag
        # quantity and price are independent in the fixture
        assert abs(got[flag][1]) < 0.1


def test_lifecycle_matches_python(spark):
    import collections, datetime

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    ud = collections.defaultdict(set)
    for r in ev:
        ud[r["ts"].date()].add(r["user_id"])
    first = {}
    for day in sorted(ud):
        for u in ud[day]:
            first.setdefault(u, day)
    one = datetime.timedelta(days=1)
    want = {}
    for day, users in ud.items():
        prev = ud.get(day - one, set())
        new = {u for u in users if first[u] == day}
        retained = (users - new) & prev
        resurrected = users - new - retained
        churned = len(prev - users) if day - one in ud else 0
        want[day] = (len(new), len(retained), len(resurrected), churned)
    got = {
        r["day"]: (
            r["n_new"], r["n_retained"], r["n_resurrected"],
            r["n_churned"], r["quick_ratio"],
        )
        for r in SPECS["q_event_lifecycle"].fn(spark, SF).collect()
    }
    assert set(got) == set(want)
    total_new = 0
    for day, (nn, nr, ns, nc) in want.items():
        gn, gr, gs, gc, qr = got[day]
        assert (gn, gr, gs) == (nn, nr, ns), day
        # churn on a day with an active predecessor day must match;
        # the operator emits only observed-activity days
        assert gc == nc, day
        if nc > 0:
            assert qr == pytest.approx(round((nn + ns) / nc, 4))
        else:
            assert qr is None
        total_new += nn
    assert total_new == len(first)  # every user is new exactly once


def test_checksum_order_invariant_and_sensitive(spark):
    from weather_etl_spark.operators.analytics import _table_checksum
    from pyspark.sql import functions as F

    rows = [(i, f"name{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    canon = F.concat_ws("|", F.col("id"), F.col("name"))
    base = _table_checksum(df, "t", canon).collect()[0]
    # row order / partitioning must not change the fingerprint
    shuffled = spark.createDataFrame(
        list(reversed(rows)), "id bigint, name string"
    ).repartition(7)
    again = _table_checksum(shuffled, "t", canon).collect()[0]
    assert (base["n_rows"], base["sum_h"], base["xor_h"]) == (
        again["n_rows"], again["sum_h"], again["xor_h"],
    )
    # a single-cell mutation must move the checksum
    mutated = spark.createDataFrame(
        [(i, "name999" if i == 42 else f"name{i}") for i in range(100)],
        "id bigint, name string",
    )
    diff = _table_checksum(mutated, "t", canon).collect()[0]
    assert diff["n_rows"] == base["n_rows"]
    assert (diff["sum_h"], diff["xor_h"]) != (base["sum_h"], base["xor_h"])


def test_checksum_covers_three_tables(spark):
    rows = SPECS["q_dq_checksum"].fn(spark, SF).collect()
    assert [r["tbl"] for r in rows] == ["customer", "events", "orders"]
    for r in rows:
        assert r["n_rows"] > 0
        assert 0 <= r["sum_h"] < 4611686018427387904


def test_survival_matches_python(spark):
    import collections

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    first = {}
    last = {}
    first_err = {}
    for r in ev:
        d = r["ts"].date()
        u = r["user_id"]
        first[u] = min(first.get(u, d), d)
        last[u] = max(last.get(u, d), d)
        if r["event_type"] == "error":
            first_err[u] = min(first_err.get(u, d), d)
    lives = []
    for u in first:
        if u in first_err:
            lives.append(((first_err[u] - first[u]).days + 1, True))
        else:
            lives.append(((last[u] - first[u]).days + 1, False))
    surv = 1.0
    want = {}
    for t in sorted({t for t, _ in lives}):
        n_risk = sum(1 for d, _ in lives if d >= t)
        d_t = sum(1 for d, died in lives if d == t and died)
        if d_t == 0:
            continue
        surv *= 1 - d_t / n_risk
        want[t] = (n_risk, d_t, surv)
    assert want, "fixture must produce at least one error event"
    got = {
        r["t"]: (r["n_risk"], r["n_events"], r["survival"])
        for r in SPECS["q_event_survival"].fn(spark, SF).collect()
    }
    assert set(got) == set(want)
    for t, (nr, dt, s) in want.items():
        assert got[t][:2] == (nr, dt), t
        assert got[t][2] == pytest.approx(s, abs=2e-4), t
    # survival must be non-increasing and within [0, 1]
    vals = [got[t][2] for t in sorted(got)]
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert all(0 <= v <= 1 for v in vals)


def test_vocab_coverage_matches_python(spark):
    import collections

    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    cnt = collections.Counter(
        t for r in docs for t in r["text"].split(" ") if t
    )
    total = sum(cnt.values())
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    got = {
        r["k"]: (r["top_n"], r["covered_occurrences"], r["coverage"])
        for r in SPECS["q_llm_vocab_coverage"].fn(spark, SF).collect()
    }
    assert set(got) == {10, 100, 1000, 10000}
    prev_cov = 0.0
    for k in (10, 100, 1000, 10000):
        top_n = min(k, len(cnt))
        covered = sum(c for _, c in ordered[:top_n])
        assert got[k][0] == top_n
        assert got[k][1] == covered
        assert got[k][2] == pytest.approx(round(covered / total, 4))
        assert got[k][2] >= prev_cov  # monotone in k
        prev_cov = got[k][2]
    if len(cnt) <= 10000:
        assert got[10000][2] == pytest.approx(1.0)


def test_embed_truncate_matches_python(spark):
    rows = spark.read.parquet(SF + "/embeddings.parquet").collect()
    sums = {d: [] for d in (4, 8, 16, 32)}
    for r in rows:
        q = [round(v * 10000) for v in r["embedding"]]
        etot = sum(x * x for x in q)
        if etot == 0:
            continue
        for d in sums:
            sums[d].append(round(sum(x * x for x in q[:d]) / etot, 8))
    got = {
        r["dims_kept"]: (r["n_vecs"], r["avg_energy_frac"], r["min_energy_frac"])
        for r in SPECS["q_llm_embed_truncate"].fn(spark, SF).collect()
    }
    assert set(got) == {4, 8, 16, 32}
    prev = 0.0
    for d in (4, 8, 16, 32):
        fr = sums[d]
        assert got[d][0] == len(fr)
        assert got[d][1] == pytest.approx(round(sum(fr) / len(fr), 4), abs=1e-4)
        assert got[d][2] == pytest.approx(round(min(fr), 4), abs=1e-4)
        assert got[d][1] >= prev  # more dims keep more energy
        prev = got[d][1]
        assert 0 < got[d][1] <= 1


def test_rolling_corr_matches_python(spark):
    import collections
    from decimal import Decimal

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    daily = collections.defaultdict(lambda: [0, 0])
    for r in ev:
        cents = int(
            (Decimal(str(r["value"])).quantize(Decimal("0.01")) * 100)
        )
        d = r["ts"].date()
        if r["event_type"] == "view":
            daily[d][0] += cents
        elif r["event_type"] == "purchase":
            daily[d][1] += cents
    days = sorted(daily)
    got = {
        r["day"]: (r["n_days"], r["corr_7d"])
        for r in SPECS["q_win_rolling_corr"].fn(spark, SF).collect()
    }
    assert set(got) == set(days)
    for i, day in enumerate(days):
        frame = days[max(0, i - 6) : i + 1]
        xs = [daily[d][0] for d in frame]
        ys = [daily[d][1] for d in frame]
        n = len(frame)
        assert got[day][0] == n
        vx = n * sum(x * x for x in xs) - sum(xs) ** 2
        vy = n * sum(y * y for y in ys) - sum(ys) ** 2
        if vx > 0 and vy > 0:
            cov = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
            assert got[day][1] == pytest.approx(
                cov / (vx * vy) ** 0.5, abs=2e-4
            ), day
            assert -1 <= got[day][1] <= 1
        else:
            assert got[day][1] is None


def test_theilsen_matches_python(spark):
    import collections, statistics
    from decimal import Decimal

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    daily = collections.defaultdict(lambda: collections.defaultdict(int))
    for r in ev:
        cents = int(
            Decimal(str(r["value"])).quantize(Decimal("0.01")) * 100
        )
        daily[r["event_type"]][r["ts"].date()] += cents
    got = {
        r["event_type"]: (r["n_days"], r["n_pairs"], r["slope_cents_per_day"])
        for r in SPECS["q_agg_theilsen"].fn(spark, SF).collect()
    }
    assert set(got) == set(daily)
    for t, series in daily.items():
        pts = sorted(
            ((d - min(series)).days, y) for d, y in series.items()
        )
        slopes = [
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1 :]
        ]
        assert got[t][0] == len(pts)
        assert got[t][1] == len(slopes)
        assert got[t][2] == pytest.approx(
            statistics.median(slopes), abs=2e-3
        ), t


def test_manifest_skips_half_the_files(spark):
    rows = SPECS["snk_manifest"].fn(spark, SF).collect()
    assert [r["bucket"] for r in rows] == [0, 1, 2, 3]
    # key ranges are disjoint and ordered (range clustering worked)
    for a, b in zip(rows, rows[1:]):
        assert a["max_key"] < b["min_key"]
    # the central-quarter probe touches exactly the two middle files
    assert [r["scanned"] for r in rows] == [False, True, True, False]
    orders = spark.read.parquet(SF + "/orders.parquet")
    assert sum(r["n_rows"] for r in rows) == orders.count()


def test_manifest_probe_bounds_engine_parity(spark):
    """ADVICE r6: the probe bounds must use exact integer division on
    both sides — Spark's double->bigint cast truncates toward zero
    while DuckDB's CAST rounds to nearest, so any key span not
    divisible by 8 would flip a boundary bucket's `scanned` flag.
    Pin Spark `div` == DuckDB `//` == Python `//` on odd spans."""
    import duckdb

    spans = [15001, 149999, 7, 12345, 8, 15000]
    for span in spans:
        want_lo, want_hi = (3 * span) // 8, (5 * span) // 8
        got = spark.sql(
            f"SELECT div(3 * {span}, 8) AS p_lo, div(5 * {span}, 8) AS p_hi"
        ).first()
        assert (got["p_lo"], got["p_hi"]) == (want_lo, want_hi), span
        dd = duckdb.sql(
            f"SELECT (3 * {span}) // 8, (5 * {span}) // 8"
        ).fetchone()
        assert dd == (want_lo, want_hi), span


def test_kcore_matches_python(spark):
    import collections

    orders = spark.read.parquet(SF + "/orders.parquet").collect()
    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    cust = {o["o_orderkey"]: o["o_custkey"] for o in orders}
    pairs = {
        (cust[l["l_orderkey"]] * 2, l["l_suppkey"] * 2 + 1)
        for l in li
        if l["l_orderkey"] in cust
    }
    adj = collections.defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    want = []
    for _ in range(3):
        keep = {u for u, vs in adj.items() if len(vs) >= 30}
        adj = {
            u: {v for v in vs if v in keep}
            for u, vs in adj.items()
            if u in keep
        }
        # drop emptied adjacency only at the NEXT degree pass, as the
        # unrolled SQL does: count survivors of the HAVING, edges after
        n_edges = sum(len(vs) for vs in adj.values()) // 2
        want.append((len(keep), n_edges))
    got = [
        (r["n_nodes"], r["n_edges"])
        for r in sorted(
            SPECS["q_graph_kcore"].fn(spark, SF).collect(),
            key=lambda r: r["round"],
        )
    ]
    assert got == want
    # peeling must be monotone and must actually remove something
    assert got[0][0] >= got[1][0] >= got[2][0]
    assert got[0][0] < len(
        {u for p in pairs for u in p}
    ), "k threshold too low to exercise peeling"


def test_bootstrap_ci_brackets_the_mean(spark):
    rows = SPECS["q_agg_bootstrap_ci"].fn(spark, SF).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["n_resamples"] == 48
        assert r["ci_lo"] < r["mean_price"] < r["ci_hi"], r["l_returnflag"]
        # half-subsample spread should be modest for n ~ 20k
        width = r["ci_hi"] - r["ci_lo"]
        assert 0 < width < 0.2 * r["mean_price"]


def test_bootstrap_membership_is_half_rate(spark):
    """Each hash bit draws a fair coin: resample 7 and resample 40
    must each keep ~half the rows, and be (near-)independent draws."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(SF + "/lineitem.parquet")
    n = li.count()
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = li.select(h.alias("h"))
    for b in (7, 40):
        member = hashed.filter(F.expr(f"(h >> {b}) & 1") == 0).count()
        assert abs(member / n - 0.5) < 0.02, b
    both = hashed.filter(
        (F.expr("(h >> 7) & 1") == 0) & (F.expr("(h >> 40) & 1") == 0)
    ).count()
    assert abs(both / n - 0.25) < 0.02


def test_embed_pq_matches_python(spark):
    rows = spark.read.parquet(SF + "/embeddings.parquet").collect()
    qv = {
        r["vec_id"]: [round(v * 10000) for v in r["embedding"]]
        for r in rows
    }
    aids = sorted(qv)[:16]
    got = {
        r["subspace"]: (
            r["n_vecs"], r["codes_used"], r["avg_sse"], r["entropy_nats"]
        )
        for r in SPECS["q_llm_embed_pq"].fn(spark, SF).collect()
    }
    assert set(got) == set(range(8))
    import math

    for j in range(8):
        lo, hi = 8 * j, 8 * j + 8
        usage = {}
        sse = 0
        for vid, q in qv.items():
            best = min(
                (
                    sum(
                        (q[p] - qv[a][p]) ** 2 for p in range(lo, hi)
                    ),
                    a,
                )
                for a in aids
            )
            usage[best[1]] = usage.get(best[1], 0) + 1
            sse += best[0]
        n = len(qv)
        h = -sum(
            round((c / n) * math.log(c / n), 8) for c in usage.values()
        )
        assert got[j][0] == n
        assert got[j][1] == len(usage)
        assert got[j][2] == pytest.approx(round(sse / n, 4))
        assert got[j][3] == pytest.approx(h, abs=2e-4)
        # anchors quantize their own subvector with zero error, so
        # at least one code is always used and entropy is finite
        assert 1 <= got[j][1] <= 16


def test_date_iso_fields_consistent(spark):
    import datetime

    rows = SPECS["q_fn_date_iso"].fn(spark, SF).collect()
    assert rows
    for r in rows[:500]:
        d = r["order_date"]
        iso = d.isocalendar()
        assert r["iso_dow"] == iso[2]
        assert r["iso_week"] == iso[1]
        assert r["q"] == (d.month - 1) // 3 + 1
        assert r["doy"] == d.timetuple().tm_yday
        nm = r["next_monday"]
        assert nm > d and nm.isocalendar()[2] == 1
        assert (nm - d).days <= 7


def test_bm25_matches_python(spark):
    import collections, math

    K1, B = 1.2, 0.75
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    terms = ("hash", "spark", "window")
    dl = {}
    tf = collections.defaultdict(collections.Counter)
    for r in docs:
        toks = [t for t in r["text"].split(" ") if t]
        dl[r["doc_id"]] = len(toks)
        for t in toks:
            if t in terms:
                tf[r["doc_id"]][t] += 1
    n = len(dl)
    avgdl = sum(dl.values()) / n
    df = collections.Counter(
        t for counts in tf.values() for t in counts
    )
    scores = {}
    for doc, counts in tf.items():
        s = 0.0
        for t, f in counts.items():
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += round(
                idf * (f * (K1 + 1))
                / (f + K1 * (1 - B + B * dl[doc] / avgdl)),
                8,
            )
        scores[doc] = round(s, 4)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["doc_id"], r["bm25"])
        for r in SPECS["q_llm_bm25"].fn(spark, SF).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=2e-4)
    assert all(a[1] >= b[1] for a, b in zip(got, got[1:]))


def test_ols2_matches_numpy_lstsq(spark):
    import numpy as np

    li = spark.read.parquet(SF + "/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_quantity", "l_discount"
    ).collect()
    got = {
        r["l_returnflag"]: r
        for r in SPECS["q_agg_ols2"].fn(spark, SF).collect()
    }
    import collections

    groups = collections.defaultdict(list)
    for r in li:
        groups[r["l_returnflag"]].append(
            (
                round(r["l_extendedprice"] * 100),
                round(r["l_quantity"]),
                round(r["l_discount"] * 100),
            )
        )
    for flag, rows in groups.items():
        y = np.array([t[0] for t in rows], dtype=float)
        X = np.column_stack(
            [
                np.ones(len(rows)),
                [t[1] for t in rows],
                [t[2] for t in rows],
            ]
        )
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        g = got[flag]
        assert g["n"] == len(rows)
        assert g["b0_cents"] == pytest.approx(beta[0], rel=1e-3)
        assert g["b1_cents_per_qty"] == pytest.approx(beta[1], rel=1e-3)
        assert g["b2_cents_per_pct"] == pytest.approx(
            beta[2], rel=1e-3, abs=1.0
        )
        resid = y - X @ beta
        sst = ((y - y.mean()) ** 2).sum()
        r2 = 1 - (resid**2).sum() / sst
        assert g["r2"] == pytest.approx(r2, abs=1e-3)
        # the synthetic fixture draws price independently of
        # quantity/discount, so the fit explains ~nothing — the test
        # value is the numpy-differential above, not the fixture's R^2
        assert 0 <= g["r2"] <= 1


def test_backtest_matches_python(spark):
    import collections
    from decimal import Decimal

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    daily = collections.defaultdict(dict)
    for r in ev:
        cents = int(Decimal(str(r["value"])).quantize(Decimal("0.01")) * 100)
        d = r["ts"].date()
        daily[r["event_type"]][d] = daily[r["event_type"]].get(d, 0) + cents
    got = {
        r["event_type"]: r
        for r in SPECS["q_time_backtest"].fn(spark, SF).collect()
    }
    assert set(got) == set(daily)
    for t, series in daily.items():
        ys = [series[d] for d in sorted(series)]
        aes, apes, aens = [], [], []
        for i in range(7, len(ys)):
            if ys[i] <= 0:
                continue
            sma = sum(ys[i - 7 : i]) / 7
            aes.append(abs(ys[i] - sma))
            apes.append(abs(ys[i] - sma) / ys[i])
            aens.append(abs(ys[i] - ys[i - 1]))
        g = got[t]
        assert g["n_eval_days"] == len(aes)
        assert g["mae_sma"] == pytest.approx(
            sum(aes) / len(aes) / 100, abs=1e-2
        )
        assert g["mape_sma"] == pytest.approx(
            sum(apes) / len(apes), abs=1e-3
        )
        assert g["mae_naive"] == pytest.approx(
            sum(aens) / len(aens) / 100, abs=1e-2
        )
        assert g["skill"] == pytest.approx(
            1 - sum(aes) / sum(aens), abs=1e-3
        )
        assert 0 < g["mape_sma"] < 1


def test_cuped_matches_python(spark):
    import collections, datetime

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    cut = min(r["ts"] for r in ev) + datetime.timedelta(days=15)
    per_user = collections.defaultdict(lambda: [0, 0])
    for r in ev:
        cents = round(r["value"] * 100)
        per_user[r["user_id"]][0 if r["ts"] < cut else 1] += cents
    xs = {u: v[0] for u, v in per_user.items()}
    ys = {u: v[1] for u, v in per_user.items()}
    n = len(per_user)
    mx = sum(xs.values()) / n
    my = sum(ys.values()) / n
    cov = sum(xs[u] * ys[u] for u in per_user) / n - mx * my
    varx = sum(x * x for x in xs.values()) / n - mx * mx
    theta = cov / varx
    got = {
        r["arm"]: r for r in SPECS["q_ab_cuped"].fn(spark, SF).collect()
    }
    assert set(got) == {0, 1}
    for arm in (0, 1):
        users = [u for u in per_user if u % 2 == arm]
        g = got[arm]
        assert g["n_users"] == len(users)
        am_y = sum(ys[u] for u in users) / len(users)
        assert g["mean_y"] == pytest.approx(am_y / 100, abs=1e-2)
        assert g["theta"] == pytest.approx(theta, abs=1e-3)
        adj = [ys[u] - theta * (xs[u] - mx) for u in users]
        assert g["mean_y_cuped"] == pytest.approx(
            sum(adj) / len(adj) / 100, abs=1e-2
        )
        vy = sum(y * y for y in (ys[u] for u in users)) / len(users) - am_y**2
        va = sum(a * a for a in adj) / len(adj) - (sum(adj) / len(adj)) ** 2
        assert g["var_reduction"] == pytest.approx(1 - va / vy, abs=1e-3)
        # pre-period revenue predicts experiment revenue in this
        # fixture, so CUPED must actually reduce variance
        assert 0 < g["var_reduction"] < 1


def test_power_formula(spark):
    import math

    row = SPECS["q_ab_power"].fn(spark, SF).collect()[0]
    p1 = row["n_conv"] / row["n_units"]
    p2 = p1 * 1.10
    n_req = math.ceil(
        (1.96 + 0.8416) ** 2
        * (p1 * (1 - p1) + p2 * (1 - p2))
        / (p1 * 0.10) ** 2
    )
    assert row["n_required_per_arm"] == n_req
    assert row["powered"] == (row["n_units"] / 2 >= n_req)
    assert 0 < row["p_base"] < 1  # user-day grain keeps this meaningful


def test_parquet_merge_null_fill(spark):
    row = SPECS["src_parquet_merge"].fn(spark, SF).collect()[0]
    ev = spark.read.parquet(SF + "/events.parquet")
    n = ev.count()
    n_odd = ev.filter("event_id % 2 = 1").count()
    assert row["n_rows"] == n
    assert row["n_with_props"] == n_odd
    assert row["n_props_null"] == n - n_odd
    assert row["n_cols"] == 3


def test_markov2_is_conditional_distribution(spark):
    rows = SPECS["q_event_markov2"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 25
    for r in rows:
        assert 0 < r["p_next"] <= 1
        assert r["n_abc"] <= r["n_ab"]
    # across ALL transitions (not just top-25) each context's
    # probabilities sum to 1 — recheck from raw events
    import collections

    ev = sorted(
        spark.read.parquet(SF + "/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    seqs = collections.defaultdict(list)
    for r in ev:
        seqs[r["user_id"]].append(r["event_type"])
    tri = collections.Counter()
    for s in seqs.values():
        for i in range(len(s) - 2):
            tri[(s[i], s[i + 1], s[i + 2])] += 1
    ctx = collections.Counter()
    for (a, b, c), k in tri.items():
        ctx[(a, b)] += k
    for r in rows:
        a, b = r["context"].split(">")
        assert r["n_abc"] == tri[(a, b, r["next_type"])]
        assert r["n_ab"] == ctx[(a, b)]
        assert r["p_next"] == pytest.approx(
            round(tri[(a, b, r["next_type"])] / ctx[(a, b)], 4)
        )


def test_filter_funnel_accounting(spark):
    import collections, hashlib

    rows = sorted(
        SPECS["q_llm_filter_funnel"].fn(spark, SF).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage_name"] for r in rows] == [
        "exact_dup", "length", "no_stopwords", "repetition",
    ]
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    n_docs = len(docs)
    # chain: n_in(1) = corpus; n_out(s) = n_in(s+1); survival monotone
    assert rows[0]["n_in"] == n_docs
    for a, b in zip(rows, rows[1:]):
        assert a["n_out"] == b["n_in"]
    surv = [r["cum_survival"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert rows[-1]["cum_survival"] == pytest.approx(
        round(rows[-1]["n_out"] / n_docs, 4)
    )
    # stage-1 kills = exact duplicate count recomputed in python
    seen = collections.Counter(
        hashlib.md5(r["text"].encode()).hexdigest() for r in docs
    )
    n_dups = sum(c - 1 for c in seen.values())
    assert rows[0]["n_killed"] == n_dups


def test_dedup_incremental_accounting(spark):
    import collections, hashlib

    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    corpus_h = {
        hashlib.md5(r["text"].encode()).hexdigest()
        for r in docs
        if r["doc_id"] % 2 == 0
    }
    batch = sorted(
        (r for r in docs if r["doc_id"] % 2 == 1),
        key=lambda r: r["doc_id"],
    )
    seen = set()
    vs_corpus = intra = ingested = 0
    for r in batch:
        h = hashlib.md5(r["text"].encode()).hexdigest()
        if h in corpus_h:
            vs_corpus += 1
        elif h in seen:
            intra += 1
        else:
            ingested += 1
        seen.add(h)
    row = SPECS["q_llm_dedup_incremental"].fn(spark, SF).collect()[0]
    assert row["n_batch"] == len(batch)
    assert row["n_dup_vs_corpus"] == vs_corpus
    assert row["n_dup_intra"] == intra
    assert row["n_ingested"] == ingested
    assert (
        row["n_dup_vs_corpus"] + row["n_dup_intra"] + row["n_ingested"]
        == row["n_batch"]
    )


def test_pipe_events_matches_python(spark):
    import collections

    ev = sorted(
        spark.read.parquet(SF + "/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    GAP = 30 * 60 * 1_000_000
    users = collections.defaultdict(list)
    for r in ev:
        us = int(r["ts"].timestamp() * 1_000_000)
        users[r["user_id"]].append((us, r["event_type"]))
    arm_stats = {0: [0, 0, 0, 0], 1: [0, 0, 0, 0]}  # users, sessions, dur, conv
    for uid, evs in users.items():
        sessions = []
        cur = [evs[0]]
        for prev, nxt in zip(evs, evs[1:]):
            if nxt[0] - prev[0] > GAP:
                sessions.append(cur)
                cur = []
            cur.append(nxt)
        sessions.append(cur)
        arm = uid % 2
        arm_stats[arm][0] += 1
        arm_stats[arm][1] += len(sessions)
        arm_stats[arm][2] += sum(s[-1][0] - s[0][0] for s in sessions)
        arm_stats[arm][3] += int(
            any(e[1] == "purchase" for s in sessions for e in s)
        )
    got = {
        r["arm"]: r for r in SPECS["pipe_events_e2e"].fn(spark, SF).collect()
    }
    for arm, (nu, ns, dur, conv) in arm_stats.items():
        g = got[arm]
        assert g["n_users"] == nu
        assert g["n_sessions"] == ns
        assert g["sessions_per_user"] == pytest.approx(round(ns / nu, 4))
        assert g["mean_session_s"] == pytest.approx(
            dur / ns / 1e6, abs=1e-3
        )
        assert g["conv_ppm"] == conv * 1_000_000 // nu


def _pair_ngram_ref(docs, n):
    import collections

    grams = {}
    for r in docs:
        toks = [t for t in r["text"].split(" ") if t]
        gs = (
            toks
            if n == 1
            else [">".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        )
        grams[r["doc_id"]] = collections.Counter(gs)
    agg = {}
    for did, c in grams.items():
        pair, is_cand = did // 2, did % 2 == 1
        agg.setdefault(pair, [collections.Counter(), collections.Counter()])
        agg[pair][1 if is_cand else 0] += c
    out = []
    for pair, (ref, cand) in agg.items():
        overlap = sum((cand & ref).values())
        out.append((overlap, sum(cand.values()), sum(ref.values())))
    return out


def test_rouge_matches_python(spark):
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    got = {
        r["n"]: r for r in SPECS["q_llm_rouge"].fn(spark, SF).collect()
    }
    assert set(got) == {1, 2}
    for n in (1, 2):
        triples = _pair_ngram_ref(docs, n)
        ov = sum(t[0] for t in triples)
        cc = sum(t[1] for t in triples)
        rc = sum(t[2] for t in triples)
        p, r = ov / cc, ov / rc
        g = got[n]
        assert g["precision"] == pytest.approx(round(p, 4))
        assert g["recall"] == pytest.approx(round(r, 4))
        assert g["f1"] == pytest.approx(2 * p * r / (p + r), abs=2e-4)
        assert 0 < g["f1"] <= 1
    # bigram overlap can't beat unigram overlap
    assert got[2]["f1"] <= got[1]["f1"]


def test_bleu_matches_python(spark):
    import math

    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    row = SPECS["q_llm_bleu"].fn(spark, SF).collect()[0]
    t1 = _pair_ngram_ref(docs, 1)
    t2 = _pair_ngram_ref(docs, 2)
    p1 = sum(t[0] for t in t1) / sum(t[1] for t in t1)
    p2 = sum(t[0] for t in t2) / sum(t[1] for t in t2)
    cand_len = sum(t[1] for t in t1)
    ref_len = sum(t[2] for t in t1)
    bp = 1.0 if cand_len >= ref_len else math.exp(1 - ref_len / cand_len)
    assert row["p1"] == pytest.approx(round(p1, 4))
    assert row["p2"] == pytest.approx(round(p2, 4))
    assert row["brevity_penalty"] == pytest.approx(round(bp, 4))
    assert row["bleu2"] == pytest.approx(
        bp * math.exp((math.log(p1) + math.log(p2)) / 2), abs=2e-4
    )
    assert row["p2"] <= row["p1"]
    assert 0 < row["bleu2"] <= 1


def test_decay_score_matches_python(spark):
    import collections

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    maxday = max(r["ts"].date() for r in ev)
    scores = collections.defaultdict(float)
    counts = collections.Counter()
    for r in ev:
        age = (maxday - r["ts"].date()).days
        scores[r["user_id"]] += round(
            round(r["value"] * 100) * 2 ** (-age / 7.0), 6
        )
        counts[r["user_id"]] += 1
    want = sorted(
        ((round(s / 100, 4), u) for u, s in scores.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    got = [
        (r["decay_score"], r["user_id"], r["n_events"])
        for r in SPECS["q_event_decay_score"].fn(spark, SF).collect()
    ]
    assert [(s, u) for s, u, _ in got] == [
        (pytest.approx(s, abs=2e-4), u) for s, u in want
    ]
    for _, u, ne in got:
        assert ne == counts[u]
    # recency weighting: newer activity outranks equal older activity
    assert got[0][0] >= got[-1][0]


def test_mad_matches_python(spark):
    import collections, statistics

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    daily = collections.defaultdict(lambda: collections.Counter())
    for r in ev:
        daily[r["event_type"]][r["ts"].date()] += round(r["value"] * 100)
    got = {
        r["event_type"]: r for r in SPECS["q_time_mad"].fn(spark, SF).collect()
    }
    assert set(got) == set(daily)
    for t, series in daily.items():
        ys = list(series.values())
        m = statistics.median(ys)
        mad = statistics.median(abs(y - m) for y in ys)
        outl = sum(1 for y in ys if abs(0.6745 * (y - m) / mad) > 3.5)
        g = got[t]
        assert g["n_days"] == len(ys)
        assert g["median_dollars"] == pytest.approx(m / 100, abs=1e-2)
        assert g["mad_dollars"] == pytest.approx(mad / 100, abs=1e-2)
        assert g["n_outliers"] == outl


def test_tpch_q21_matches_python(spark):
    import collections
    from datetime import timedelta

    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    orders = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in spark.read.parquet(SF + "/orders.parquet").collect()
    }
    snames = {
        r["s_suppkey"]: r["s_name"]
        for r in spark.read.parquet(SF + "/supplier.parquet").collect()
    }
    late = [
        (r["l_orderkey"], r["l_suppkey"])
        for r in li
        if r["l_shipdate"] > orders[r["l_orderkey"]] + timedelta(days=365)
    ]
    supps_on = collections.defaultdict(set)
    for r in li:
        supps_on[r["l_orderkey"]].add(r["l_suppkey"])
    late_on = collections.defaultdict(set)
    for ok, sk in late:
        late_on[ok].add(sk)
    waits = collections.Counter()
    for ok, sk in late:
        if supps_on[ok] - {sk} and not (late_on[ok] - {sk}):
            waits[snames[sk]] += 1
    want = sorted(waits.items(), key=lambda t: (-t[1], t[0]))[:25]
    got = [
        (r["s_name"], r["numwait"])
        for r in SPECS["q_tpch_q21"].fn(spark, SF).collect()
    ]
    assert got == want
    assert len(got) == 25 and got[0][1] >= got[-1][1]


def test_tpch_q17_matches_python(spark):
    import collections

    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    brand4 = {
        r["p_partkey"]
        for r in spark.read.parquet(SF + "/part.parquet").collect()
        if r["p_brand"] == "Brand#4"
    }
    qty = collections.defaultdict(list)
    for r in li:
        qty[r["l_partkey"]].append(r["l_quantity"])
    thr = {k: 0.5 * sum(v) / len(v) for k, v in qty.items()}
    picked = [
        r
        for r in li
        if r["l_partkey"] in brand4 and r["l_quantity"] < thr[r["l_partkey"]]
    ]
    total = sum(round(r["l_extendedprice"] * 100) for r in picked) / 100
    row = SPECS["q_tpch_q17"].fn(spark, SF).collect()[0]
    assert row["n_lines"] == len(picked)
    assert row["total_revenue"] == pytest.approx(total, abs=1e-2)
    assert row["avg_yearly"] == pytest.approx(round(total / 7.0, 4), abs=1e-3)


def test_tpch_q22_matches_python(spark):
    import collections
    from datetime import datetime

    cust = spark.read.parquet(SF + "/customer.parquet").collect()
    cut = datetime(2000, 1, 1)
    recent = {
        r["o_custkey"]
        for r in spark.read.parquet(SF + "/orders.parquet").collect()
        if r["o_orderdate"] >= cut
    }
    pos = [r["c_acctbal"] for r in cust if r["c_acctbal"] > 0]
    avg = sum(pos) / len(pos)
    seg = collections.defaultdict(lambda: [0, 0])
    for r in cust:
        if r["c_acctbal"] > avg and r["c_custkey"] not in recent:
            seg[r["c_mktsegment"]][0] += 1
            seg[r["c_mktsegment"]][1] += round(r["c_acctbal"] * 100)
    got = SPECS["q_tpch_q22"].fn(spark, SF).collect()
    assert [r["c_mktsegment"] for r in got] == sorted(seg)
    for r in got:
        n, cents = seg[r["c_mktsegment"]]
        assert r["numcust"] == n
        assert r["totacctbal"] == pytest.approx(cents / 100, abs=1e-2)
    # dormancy is a strict subset: never all customers qualify
    assert sum(r["numcust"] for r in got) < len(cust)


def test_anova_matches_python(spark):
    import collections

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    groups = collections.defaultdict(list)
    for r in ev:
        groups[r["event_type"]].append(round(r["value"] * 100))
    k, n = len(groups), sum(len(v) for v in groups.values())
    grand = sum(sum(v) for v in groups.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    row = SPECS["q_agg_anova"].fn(spark, SF).collect()[0]
    assert row["k"] == k and row["n_total"] == n
    assert row["ss_between"] == pytest.approx(ssb / 10000, rel=1e-6)
    assert row["ss_within"] == pytest.approx(ssw / 10000, rel=1e-6)
    assert row["f_stat"] == pytest.approx(f, abs=2e-3)
    assert row["eta_sq"] == pytest.approx(ssb / (ssb + ssw), abs=2e-4)


def test_hard_negatives_matches_python(spark):
    import math

    emb = spark.read.parquet(SF + "/embeddings.parquet").collect()
    vecs = {r["vec_id"]: (r["label"], r["embedding"]) for r in emb}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    got = SPECS["q_llm_hard_negatives"].fn(spark, SF).collect()
    assert {r["anchor_id"] for r in got} == {10, 20, 30, 40, 50}
    for a in (10, 20, 30, 40, 50):
        alab, avec = vecs[a]
        scored = sorted(
            (
                (-cos(avec, v), vid)
                for vid, (lab, v) in vecs.items()
                if lab != alab
            ),
        )[:5]
        rows = [r for r in got if r["anchor_id"] == a]
        assert [r["negative_id"] for r in rows] == [vid for _, vid in scored]
        for r, (negc, _) in zip(rows, scored):
            assert r["cos"] == pytest.approx(-negc, abs=2e-4)
            assert r["negative_label"] != r["anchor_label"]


def test_event_pattern_matches_python(spark):
    import collections
    import re as _re

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    seqs = collections.defaultdict(list)
    for r in ev:
        seqs[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"][0]))
    pat = _re.compile("v+c*p")
    want = []
    for u, items in seqs.items():
        s = "".join(i for _, _, i in sorted(items))
        n = len(pat.findall(s))
        if n > 0:
            want.append((-n, u, len(s), len(pat.sub("", s))))
    want.sort()
    want = want[:20]
    got = SPECS["q_event_pattern"].fn(spark, SF).collect()
    assert [
        (-r["n_matches"], r["user_id"], r["seq_len"], r["residual_len"])
        for r in got
    ] == want


def test_kruskal_matches_python(spark):
    import collections

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    vals = [(r["event_type"], round(r["value"] * 100)) for r in ev]
    ordered = sorted(v for _, v in vals)
    first = {}
    cnt = collections.Counter(ordered)
    pos = 1
    for v in ordered:
        if v not in first:
            first[v] = pos
        pos += 1
    ar = {v: (2 * first[v] + cnt[v] - 1) / 2 for v in cnt}
    groups = collections.defaultdict(list)
    for t, v in vals:
        groups[t].append(ar[v])
    n = len(vals)
    rsum = sum(sum(g) ** 2 / len(g) for g in groups.values())
    h = 12.0 / (n * (n + 1)) * rsum - 3.0 * (n + 1)
    tie = sum(c**3 - c for c in cnt.values())
    hc = h / (1 - tie / (n**3 - n))
    row = SPECS["q_agg_kruskal"].fn(spark, SF).collect()[0]
    assert row["k"] == len(groups) and row["n_total"] == n
    assert row["h"] == pytest.approx(h, abs=2e-3)
    assert row["h_corrected"] == pytest.approx(hc, abs=2e-3)
    assert row["h_corrected"] >= row["h"]


def test_tpch_q19_matches_python(spark):
    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    parts = {
        r["p_partkey"]: (r["p_brand"], r["p_size"])
        for r in spark.read.parquet(SF + "/part.parquet").collect()
    }
    picked = []
    for r in li:
        brand, size = parts[r["l_partkey"]]
        q = r["l_quantity"]
        if (
            (brand == "Brand#1" and 1 <= size <= 5 and 1 <= q <= 11)
            or (brand == "Brand#2" and 1 <= size <= 10 and 10 <= q <= 20)
            or (brand == "Brand#3" and 1 <= size <= 15 and 20 <= q <= 30)
        ):
            picked.append(r)
    rev = sum(
        round(r["l_extendedprice"] * 100)
        * round((1 - r["l_discount"]) * 1e6)
        for r in picked
    ) / 1e8
    row = SPECS["q_tpch_q19"].fn(spark, SF).collect()[0]
    assert row["n_lines"] == len(picked)
    assert row["revenue"] == pytest.approx(rev, rel=1e-9)


def test_kneser_ney_matches_python(spark):
    import collections
    import math

    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    c2 = collections.Counter()
    for r in docs:
        t = r["text"].split(" ")
        if len(t) >= 2:
            for a, b in zip(t, t[1:]):
                c2[(a, b)] += 1
    c1 = collections.Counter()
    n1f = collections.Counter()
    n1b = collections.Counter()
    for (a, b), c in c2.items():
        c1[a] += c
        n1f[a] += 1
        n1b[b] += 1
    B = len(c2)
    T = sum(c2.values())
    d = 0.75
    h_kn = h_mle = 0.0
    for (a, b), c in c2.items():
        p = max(c - d, 0) / c1[a] + (d * n1f[a] / c1[a]) * (n1b[b] / B)
        h_kn += c * -math.log(p)
        h_mle += c * -math.log(c / c1[a])
    row = SPECS["q_llm_kneser_ney"].fn(spark, SF).collect()[0]
    assert row["n_bigrams"] == T and row["n_bigram_types"] == B
    assert row["h_kn_nats"] == pytest.approx(h_kn / T, abs=2e-4)
    assert row["h_mle_nats"] == pytest.approx(h_mle / T, abs=2e-4)
    # smoothing always costs entropy on the training corpus
    assert row["h_kn_nats"] >= row["h_mle_nats"]


def test_time_to_convert_matches_python(spark):
    import statistics

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    first_view = {}
    for r in sorted(ev, key=lambda r: r["ts"]):
        if r["event_type"] == "view" and r["user_id"] not in first_view:
            first_view[r["user_id"]] = r["ts"]
    lat = {}
    for r in sorted(ev, key=lambda r: r["ts"]):
        u = r["user_id"]
        if (
            r["event_type"] == "purchase"
            and u in first_view
            and r["ts"] > first_view[u]
            and u not in lat
        ):
            lat[u] = (r["ts"] - first_view[u]).total_seconds()
    row = SPECS["q_event_time_to_convert"].fn(spark, SF).collect()[0]
    assert row["n_viewers"] == len(first_view)
    assert row["n_converters"] == len(lat)
    vals = sorted(lat.values())
    assert row["med_hours"] == pytest.approx(
        statistics.median(vals) / 3600, abs=1e-3
    )
    assert row["avg_hours"] == pytest.approx(
        sum(vals) / len(vals) / 3600, abs=1e-3
    )
    assert row["p90_hours"] >= row["med_hours"]


def test_levene_matches_python(spark):
    import collections
    import statistics

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    groups = collections.defaultdict(list)
    for r in ev:
        groups[r["event_type"]].append(round(r["value"] * 100))
    z = {
        t: [abs(x - statistics.median(v)) for x in v]
        for t, v in groups.items()
    }
    k = len(z)
    n = sum(len(v) for v in z.values())
    grand = sum(sum(v) for v in z.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in z.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in z.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    row = SPECS["q_agg_levene"].fn(spark, SF).collect()[0]
    assert row["k"] == k and row["n_total"] == n
    assert row["f_bf"] == pytest.approx(f, abs=2e-3)


def test_cohort_ltv_matches_python(spark):
    import collections
    from datetime import timedelta

    def week(ts):
        d = ts.date()
        return d - timedelta(days=d.weekday())

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    first = {}
    for r in sorted(ev, key=lambda r: r["ts"]):
        first.setdefault(r["user_id"], week(r["ts"]))
    sizes = collections.Counter(first.values())
    rev = collections.Counter()
    for r in ev:
        cw = first[r["user_id"]]
        age = (week(r["ts"]) - cw).days // 7
        rev[(cw, age)] += round(r["value"] * 100)
    got = SPECS["q_cohort_ltv"].fn(spark, SF).collect()
    assert len(got) > 1, "weekly cohorts must not be degenerate"
    cum = collections.Counter()
    seen = set()
    for r in got:
        cw = r["cohort_week"]
        cum[cw] += rev[(cw, r["age"])]
        seen.add((cw, r["age"]))
        assert r["n_users"] == sizes[cw]
        assert r["cum_rev_dollars"] == pytest.approx(
            cum[cw] / 100, abs=1e-2
        )
        assert r["ltv_per_user"] == pytest.approx(
            cum[cw] / 100 / sizes[cw], abs=1e-3
        )
    assert seen == set(rev)
    assert sum(rev.values()) == sum(cum.values())


def test_span_corruption_matches_python(spark):
    import collections

    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    buckets = collections.defaultdict(
        lambda: [0, 0, 0, 0, 0, 0]
    )  # docs, tokens, masked, chars, input, target
    for r in docs:
        t = r["text"].split(" ")
        masked = [x for j, x in enumerate(t) if j % 9 in (3, 4, 5)]
        spans = sum(1 for j in range(len(t)) if j % 9 == 3)
        b = buckets[spans]
        b[0] += 1
        b[1] += len(t)
        b[2] += len(masked)
        b[3] += sum(len(x) for x in masked)
        b[4] += len(t) - len(masked) + spans
        b[5] += len(masked) + spans
    got = {r["n_spans"]: r for r in SPECS["q_llm_span_corruption"].fn(spark, SF).collect()}
    assert set(got) == set(buckets)
    for spans, b in buckets.items():
        g = got[spans]
        assert (
            g["n_docs"],
            g["tot_tokens"],
            g["tot_masked"],
            g["tot_masked_chars"],
            g["tot_input_tokens"],
            g["tot_target_tokens"],
        ) == tuple(b)
        assert g["mask_ratio"] == pytest.approx(b[2] / b[1], abs=2e-4)
        # span geometry: ~1/3 of tokens masked for long docs
        if b[1] / b[0] > 50:
            assert 0.2 < g["mask_ratio"] < 0.42


def test_preference_pairs_matches_python(spark):
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    ttr = {}
    for r in docs:
        toks = [x for x in r["text"].split(" ") if x]
        ttr[r["doc_id"]] = len(set(toks)) / len(toks)
    pairs = []
    by_pair = {}
    for d in sorted(ttr):
        by_pair.setdefault(d // 2, []).append(d)
    for pid, ds in by_pair.items():
        if len(ds) != 2:
            continue
        a, b = ds
        if (ttr[a], -a) >= (ttr[b], -b):
            chosen, rejected = a, b
        else:
            chosen, rejected = b, a
        pairs.append(
            (-round(abs(ttr[a] - ttr[b]), 4), pid, chosen, rejected)
        )
    pairs.sort()
    got = SPECS["q_llm_preference_pairs"].fn(spark, SF).collect()
    assert len(got) == 15
    for r, (negm, pid, c, rej) in zip(got, pairs[:15]):
        assert r["pair_id"] == pid
        assert r["chosen_id"] == c and r["rejected_id"] == rej
        assert r["margin"] == pytest.approx(-negm, abs=1e-4)
        assert ttr[r["chosen_id"]] >= ttr[r["rejected_id"]]


def test_assortativity_matches_python(spark):
    import math

    orders = spark.read.parquet(SF + "/orders.parquet").collect()
    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    custof = {r["o_orderkey"]: r["o_custkey"] for r in orders}
    edges = {
        (custof[r["l_orderkey"]] * 2, r["l_suppkey"] * 2 + 1) for r in li
    }
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs = []
    for u, v in edges:
        xs.append((deg[u], deg[v]))
        xs.append((deg[v], deg[u]))
    m = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    r_want = (m * sxy - sx * sy) / math.sqrt(
        (m * sxx - sx * sx) * (m * syy - sy * sy)
    )
    row = SPECS["q_graph_assortativity"].fn(spark, SF).collect()[0]
    assert row["n_edges"] == len(edges)
    assert row["assortativity"] == pytest.approx(r_want, abs=2e-4)
    # bipartite customer-supplier graphs mix disassortatively or ~0
    assert row["assortativity"] < 0.5


def test_minhash_eval_matches_python(spark):
    import collections
    import hashlib

    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    sh = {}
    for r in docs:
        t = r["text"].split(" ")
        if len(t) >= 3:
            sh[r["doc_id"]] = {
                " ".join(t[i : i + 3]) for i in range(len(t) - 2)
            }
    inv = collections.defaultdict(set)
    for d, ss in sh.items():
        for s in ss:
            inv[s].add(d)
    cand_truth = set()
    for ds in inv.values():
        for a in ds:
            for b in ds:
                if a < b:
                    cand_truth.add((a, b))
    truth = {
        (a, b)
        for a, b in cand_truth
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.5
    }

    def mh(doc, i):
        return min(
            int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:15], 16)
            for s in sh[doc]
        )

    bands = collections.defaultdict(set)
    for d in sh:
        for band in range(4):
            key = (band, tuple(mh(d, band * 3 + j) for j in range(3)))
            bands[key].add(d)
    cand = set()
    for ds in bands.values():
        for a in ds:
            for b in ds:
                if a < b:
                    cand.add((a, b))
    row = SPECS["q_llm_minhash_eval"].fn(spark, SF).collect()[0]
    tp = len(truth & cand)
    assert row["n_truth"] == len(truth)
    assert row["n_candidates"] == len(cand)
    assert row["tp"] == tp
    assert row["precision"] == pytest.approx(tp / len(cand), abs=1e-4)
    assert row["recall"] == pytest.approx(tp / len(truth), abs=1e-4)
    # banding at J>=0.5 must beat the theoretical floor at J=0.5
    assert row["recall"] >= 0.414


def test_collate_matches_python(spark):
    import collections

    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    groups = collections.defaultdict(list)
    for r in docs:
        s = r["source"]
        if r["doc_id"] % 3 == 0:
            v = s.upper()
        elif r["doc_id"] % 3 == 1:
            v = s[:1].upper() + s[1:]
        else:
            v = s
        groups[v.lower()].append(v)
    got = SPECS["q_fn_collate"].fn(spark, SF).collect()
    assert [r["key_ci"] for r in got] == sorted(groups)
    for r in got:
        vs = groups[r["key_ci"]]
        assert r["n_rows"] == len(vs)
        assert r["n_case_variants"] == len(set(vs))
        assert r["first_binary"] == min(vs)
        assert r["n_case_variants"] >= 2  # the variants actually vary


def test_next_pred_matches_python(spark):
    import collections
    from datetime import datetime

    ev = spark.read.parquet(SF + "/events.parquet").collect()
    split = datetime(2024, 1, 20)
    byuser = collections.defaultdict(list)
    for r in ev:
        byuser[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    train = collections.Counter()
    test = []
    for items in byuser.values():
        items.sort()
        for (_, _, a), (ts2, _, b) in zip(items, items[1:]):
            if ts2 < split:
                train[(a, b)] += 1
            else:
                test.append((a, b))
    model = {}
    for (a, b), c in sorted(
        train.items(), key=lambda kv: (kv[0][0], -kv[1], kv[0][1])
    ):
        model.setdefault(a, b)
    per = collections.defaultdict(lambda: [0, 0])
    for a, b in test:
        if a in model:
            per[a][0] += 1
            per[a][1] += int(model[a] == b)
    got = SPECS["q_event_next_pred"].fn(spark, SF).collect()
    assert [r["prev"] for r in got] == sorted(per)
    for r in got:
        n, c = per[r["prev"]]
        assert r["predicted"] == model[r["prev"]]
        assert r["n_test"] == n and r["n_correct"] == c
        assert r["accuracy"] == pytest.approx(c / n, abs=1e-4)
    # a fitted argmax model must beat the 1/k uniform baseline overall
    tot_n = sum(v[0] for v in per.values())
    tot_c = sum(v[1] for v in per.values())
    assert tot_c / tot_n > 1.0 / 5


def test_tpch_q4_matches_python(spark):
    import collections
    from datetime import datetime, timedelta

    orders = spark.read.parquet(SF + "/orders.parquet").collect()
    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    ship = collections.defaultdict(list)
    for r in li:
        ship[r["l_orderkey"]].append(r["l_shipdate"])
    lo, hi = datetime(1997, 7, 1), datetime(1997, 10, 1)
    want = collections.Counter()
    for o in orders:
        if lo <= o["o_orderdate"] < hi and any(
            s > o["o_orderdate"] + timedelta(days=60)
            for s in ship.get(o["o_orderkey"], [])
        ):
            want[o["o_orderpriority"]] += 1
    got = SPECS["q_tpch_q4"].fn(spark, SF).collect()
    assert {(r["o_orderpriority"], r["order_count"]) for r in got} == set(
        want.items()
    )
    assert [r["o_orderpriority"] for r in got] == sorted(want)


def test_tpch_q6_matches_python(spark):
    from datetime import datetime

    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    lo, hi = datetime(1997, 1, 1), datetime(1998, 1, 1)
    picked = [
        r
        for r in li
        if lo <= r["l_shipdate"] < hi
        and 0.05 <= r["l_discount"] <= 0.07
        and r["l_quantity"] < 24
    ]
    rev = sum(
        round(r["l_extendedprice"] * 100) * round(r["l_discount"] * 1e6)
        for r in picked
    ) / 1e8
    row = SPECS["q_tpch_q6"].fn(spark, SF).collect()[0]
    assert row["n_lines"] == len(picked)
    assert row["revenue"] == pytest.approx(rev, rel=1e-9)


def test_quantile_eval_matches_python(spark):
    import statistics

    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    cents = sorted(round(r["l_extendedprice"] * 100) for r in li)
    n = len(cents)
    got = {r["q"]: r for r in SPECS["q_agg_quantile_eval"].fn(spark, SF).collect()}
    assert set(got) == {50, 90, 99}
    qc = statistics.quantiles(cents, n=100, method="inclusive")
    for q in (50, 90, 99):
        exact = qc[q - 1]
        g = got[q]
        assert g["exact_dollars"] == pytest.approx(exact / 100, abs=5e-2)
        # crossing rule: first bin whose cumulative reaches q% of rows
        target = q * n
        cum = 0
        for b in range(64):
            lo, hi = b * 200000, (b + 1) * 200000 if b < 63 else 1 << 62
            cum += sum(1 for c in cents if lo <= c < hi)
            if cum * 100 >= target:
                assert g["est_lower_edge"] == b * 2000
                break
        assert g["rel_err"] < 0.5
        assert isinstance(g["within_half_bin"], bool)


def test_dq_embeddings_matches_python(spark):
    import collections
    import math

    emb = spark.read.parquet(SF + "/embeddings.parquet").collect()
    per = collections.defaultdict(list)
    for r in emb:
        per[r["label"]].append(r["embedding"])
    got = {r["label"]: r for r in SPECS["q_dq_embeddings"].fn(spark, SF).collect()}
    assert set(got) == set(per)
    for lab, vecs in per.items():
        g = got[lab]
        norms = [
            round(math.sqrt(sum(float(x) * float(x) for x in v)), 6)
            for v in vecs
        ]
        assert g["n_vecs"] == len(vecs)
        assert g["min_dim"] == g["max_dim"] == 64
        assert g["n_bad"] == 0 and g["n_zero_norm"] == 0
        assert g["min_norm"] == pytest.approx(min(norms), abs=2e-4)
        assert g["max_norm"] == pytest.approx(max(norms), abs=2e-4)
        assert g["mean_norm"] == pytest.approx(
            sum(norms) / len(norms), abs=2e-4
        )


def test_tpch_q13_matches_python(spark):
    import collections

    cust = spark.read.parquet(SF + "/customer.parquet").collect()
    orders = spark.read.parquet(SF + "/orders.parquet").collect()
    per = collections.Counter()
    for o in orders:
        if o["o_orderpriority"] != "5-LOW":
            per[o["o_custkey"]] += 1
    dist = collections.Counter(per.get(c["c_custkey"], 0) for c in cust)
    got = SPECS["q_tpch_q13"].fn(spark, SF).collect()
    assert [(r["c_count"], r["custdist"]) for r in got] == sorted(
        ((c, d) for c, d in dist.items()), key=lambda t: (-t[1], -t[0])
    )
    # zero-order customers are histogrammed too (outer-join contract)
    assert sum(r["custdist"] for r in got) == len(cust)


def test_tpch_q16_matches_python(spark):
    import collections

    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    part = {
        r["p_partkey"]: (r["p_brand"], r["p_type"], r["p_size"])
        for r in spark.read.parquet(SF + "/part.parquet").collect()
    }
    bad = {
        r["s_suppkey"]
        for r in spark.read.parquet(SF + "/supplier.parquet").collect()
        if r["s_acctbal"] < 0
    }
    sizes = {1, 4, 9, 16, 25, 36, 49}
    combo = collections.defaultdict(set)
    for r in li:
        if r["l_suppkey"] in bad:
            continue
        brand, ptype, size = part[r["l_partkey"]]
        if brand != "Brand#1" and size in sizes:
            combo[(brand, ptype, size)].add(r["l_suppkey"])
    want = sorted(
        ((len(v), b, t, s) for (b, t, s), v in combo.items()),
        key=lambda x: (-x[0], x[1], x[2], x[3]),
    )[:50]
    got = SPECS["q_tpch_q16"].fn(spark, SF).collect()
    assert [
        (r["supplier_cnt"], r["p_brand"], r["p_type"], r["p_size"])
        for r in got
    ] == want


def test_minhash_mae_matches_python(spark):
    row = SPECS["q_llm_minhash_mae"].fn(spark, SF).collect()[0]
    assert row["n_pairs"] > 0
    # 12 permutations: sd <= 0.145, so MAE well under one sd's worth
    assert 0 <= row["mae"] <= 0.2
    assert abs(row["bias"]) <= row["mae"]
    # the 0.25 band holds for the vast majority of pairs
    assert row["n_within_025"] >= 0.8 * row["n_pairs"]


def test_tpch_q7_matches_python(spark):
    import collections
    from datetime import datetime

    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(SF + "/nation.parquet").collect()
    }
    custn = {
        r["c_custkey"]: nat[r["c_nationkey"]]
        for r in spark.read.parquet(SF + "/customer.parquet").collect()
    }
    suppn = {
        r["s_suppkey"]: nat[r["s_nationkey"]]
        for r in spark.read.parquet(SF + "/supplier.parquet").collect()
    }
    ocust = {
        r["o_orderkey"]: r["o_custkey"]
        for r in spark.read.parquet(SF + "/orders.parquet").collect()
    }
    lo, hi = datetime(1996, 1, 1), datetime(1998, 1, 1)
    agg = collections.defaultdict(lambda: [0, 0])
    for r in spark.read.parquet(SF + "/lineitem.parquet").collect():
        if not (lo <= r["l_shipdate"] < hi):
            continue
        sn = suppn[r["l_suppkey"]]
        cn = custn[ocust[r["l_orderkey"]]]
        if {sn, cn} != {"NATION_1", "NATION_2"}:
            continue
        key = (sn, cn, r["l_shipdate"].year)
        agg[key][0] += 1
        agg[key][1] += round(r["l_extendedprice"] * 100) * round(
            (1 - r["l_discount"]) * 1e6
        )
    got = SPECS["q_tpch_q7"].fn(spark, SF).collect()
    assert [(r["supp_nation"], r["cust_nation"], r["l_year"]) for r in got] == sorted(agg)
    for r in got:
        n, cents = agg[(r["supp_nation"], r["cust_nation"], r["l_year"])]
        assert r["n_lines"] == n
        assert r["revenue"] == pytest.approx(cents / 1e8, rel=1e-9)


def test_tpch_q8_matches_python(spark):
    import collections
    from datetime import datetime

    nat = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in spark.read.parquet(SF + "/nation.parquet").collect()
    }
    asia = {
        r["r_regionkey"]
        for r in spark.read.parquet(SF + "/region.parquet").collect()
        if r["r_name"] == "ASIA"
    }
    cust_ok = {
        r["c_custkey"]
        for r in spark.read.parquet(SF + "/customer.parquet").collect()
        if nat[r["c_nationkey"]][1] in asia
    }
    promo = {
        r["p_partkey"]
        for r in spark.read.parquet(SF + "/part.parquet").collect()
        if r["p_type"] == "PROMO"
    }
    suppn = {
        r["s_suppkey"]: nat[r["s_nationkey"]][0]
        for r in spark.read.parquet(SF + "/supplier.parquet").collect()
    }
    omap = {
        r["o_orderkey"]: (r["o_custkey"], r["o_orderdate"])
        for r in spark.read.parquet(SF + "/orders.parquet").collect()
    }
    lo, hi = datetime(1996, 1, 1), datetime(1998, 1, 1)
    per = collections.defaultdict(lambda: [0, 0])
    for r in spark.read.parquet(SF + "/lineitem.parquet").collect():
        ck, od = omap[r["l_orderkey"]]
        if not (lo <= od < hi):
            continue
        if ck not in cust_ok or r["l_partkey"] not in promo:
            continue
        v = round(r["l_extendedprice"] * 100) * round(
            (1 - r["l_discount"]) * 1e6
        )
        per[od.year][1] += v
        if suppn[r["l_suppkey"]] == "NATION_3":
            per[od.year][0] += v
    got = SPECS["q_tpch_q8"].fn(spark, SF).collect()
    assert [r["o_year"] for r in got] == sorted(per)
    for r in got:
        nv, tv = per[r["o_year"]]
        assert r["nation_volume"] == pytest.approx(nv / 1e8, rel=1e-9)
        assert r["total_volume"] == pytest.approx(tv / 1e8, rel=1e-9)
        assert r["mkt_share"] == pytest.approx(nv / tv, abs=2e-4)


def test_tpch_q15_matches_python(spark):
    import collections
    from datetime import datetime

    lo, hi = datetime(1997, 1, 1), datetime(1997, 4, 1)
    rev = collections.Counter()
    for r in spark.read.parquet(SF + "/lineitem.parquet").collect():
        if lo <= r["l_shipdate"] < hi:
            rev[r["l_suppkey"]] += round(r["l_extendedprice"] * 100) * round(
                (1 - r["l_discount"]) * 1e6
            )
    best = max(rev.values())
    winners = sorted(k for k, v in rev.items() if v == best)
    got = SPECS["q_tpch_q15"].fn(spark, SF).collect()
    assert [r["s_suppkey"] for r in got] == winners
    for r in got:
        assert r["total_revenue"] == pytest.approx(best / 1e8, abs=1e-3)
        assert r["s_name"] == f"Supplier#{r['s_suppkey']:09d}"


def test_tpch_q2_matches_python(spark):
    import collections

    li = spark.read.parquet(SF + "/lineitem.parquet").collect()
    nat = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in spark.read.parquet(SF + "/nation.parquet").collect()
    }
    europe = {
        r["r_regionkey"]
        for r in spark.read.parquet(SF + "/region.parquet").collect()
        if r["r_name"] == "EUROPE"
    }
    supp = {
        r["s_suppkey"]: r
        for r in spark.read.parquet(SF + "/supplier.parquet").collect()
        if nat[r["s_nationkey"]][1] in europe
    }
    parts = {
        r["p_partkey"]: r["p_type"]
        for r in spark.read.parquet(SF + "/part.parquet").collect()
        if r["p_size"] == 15 and r["p_type"] == "STANDARD"
    }
    cost = collections.defaultdict(lambda: float("inf"))
    for r in li:
        if r["l_partkey"] in parts and r["l_suppkey"] in supp:
            cost[(r["l_partkey"], r["l_suppkey"])] = min(
                cost[(r["l_partkey"], r["l_suppkey"])],
                round(r["l_extendedprice"] * 100),
            )
    best = collections.defaultdict(lambda: float("inf"))
    for (pk, sk), c in cost.items():
        best[pk] = min(best[pk], c)
    rows = []
    for (pk, sk), c in cost.items():
        if c == best[pk]:
            s = supp[sk]
            rows.append(
                (
                    -s["s_acctbal"],
                    nat[s["s_nationkey"]][0],
                    s["s_name"],
                    pk,
                    c,
                )
            )
    rows.sort()
    got = SPECS["q_tpch_q2"].fn(spark, SF).collect()
    assert len(got) == min(25, len(rows))
    for g, (negbal, nname, sname, pk, c) in zip(got, rows[:25]):
        assert g["s_acctbal"] == pytest.approx(-negbal, abs=1e-6)
        assert (g["n_name"], g["s_name"], g["p_partkey"]) == (
            nname,
            sname,
            pk,
        )
        assert g["supply_cost"] == pytest.approx(c / 100, abs=1e-6)


def test_tpch_q9_matches_python(spark):
    import collections

    parts = {
        r["p_partkey"]: r["p_retailprice"]
        for r in spark.read.parquet(SF + "/part.parquet").collect()
        if "widget" in r["p_name"]
    }
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(SF + "/nation.parquet").collect()
    }
    suppn = {
        r["s_suppkey"]: nat[r["s_nationkey"]]
        for r in spark.read.parquet(SF + "/supplier.parquet").collect()
    }
    oyear = {
        r["o_orderkey"]: r["o_orderdate"].year
        for r in spark.read.parquet(SF + "/orders.parquet").collect()
    }
    per = collections.defaultdict(lambda: [0, 0.0])
    for r in spark.read.parquet(SF + "/lineitem.parquet").collect():
        if r["l_partkey"] not in parts:
            continue
        key = (suppn[r["l_suppkey"]], oyear[r["l_orderkey"]])
        rev = (
            round(r["l_extendedprice"] * 100)
            * round((1 - r["l_discount"]) * 1e6)
            / 1e8
        )
        cost = (
            round(parts[r["l_partkey"]] * 100)
            * round(r["l_quantity"])
            / 1000
        )
        per[key][0] += 1
        per[key][1] += rev - cost
    got = SPECS["q_tpch_q9"].fn(spark, SF).collect()
    assert [(r["nation"], r["o_year"]) for r in got] == sorted(
        per, key=lambda k: (k[0], -k[1])
    )
    for r in got:
        n, p = per[(r["nation"], r["o_year"])]
        assert r["n_lines"] == n
        assert r["sum_profit"] == pytest.approx(p, abs=1e-2)


def test_tpch_q12_matches_python(spark):
    import collections
    from datetime import datetime, timedelta

    omap = {
        r["o_orderkey"]: (r["o_orderdate"], r["o_orderpriority"])
        for r in spark.read.parquet(SF + "/orders.parquet").collect()
    }
    lo, hi = datetime(1997, 1, 1), datetime(1998, 1, 1)
    per = collections.defaultdict(lambda: [0, 0])
    for r in spark.read.parquet(SF + "/lineitem.parquet").collect():
        if not (lo <= r["l_shipdate"] < hi):
            continue
        od, pri = omap[r["l_orderkey"]]
        if r["l_shipdate"] <= od + timedelta(days=30):
            cls = "FAST"
        elif r["l_shipdate"] <= od + timedelta(days=180):
            cls = "REGULAR"
        else:
            cls = "SLOW"
        per[cls][0 if pri in ("1-URGENT", "2-HIGH") else 1] += 1
    got = SPECS["q_tpch_q12"].fn(spark, SF).collect()
    assert [r["ship_class"] for r in got] == sorted(per)
    for r in got:
        hi_c, lo_c = per[r["ship_class"]]
        assert (r["high_line_count"], r["low_line_count"]) == (hi_c, lo_c)


def test_tpch_q11_matches_python(spark):
    import collections

    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(SF + "/nation.parquet").collect()
    }
    nsup = {
        r["s_suppkey"]
        for r in spark.read.parquet(SF + "/supplier.parquet").collect()
        if nat[r["s_nationkey"]] == "NATION_5"
    }
    val = collections.Counter()
    for r in spark.read.parquet(SF + "/lineitem.parquet").collect():
        if r["l_suppkey"] in nsup:
            val[r["l_partkey"]] += round(r["l_extendedprice"] * 100)
    total = sum(val.values())
    want = sorted(
        ((v, pk) for pk, v in val.items() if v * 1000 > 2 * total),
        key=lambda t: (-t[0], t[1]),
    )
    got = SPECS["q_tpch_q11"].fn(spark, SF).collect()
    assert [(r["ps_partkey"]) for r in got] == [pk for _, pk in want]
    for r, (v, pk) in zip(got, want):
        assert r["part_value"] == pytest.approx(v / 100, abs=1e-2)


def test_tpch_q20_matches_python(spark):
    import collections
    from datetime import datetime

    brand = {
        r["p_partkey"]
        for r in spark.read.parquet(SF + "/part.parquet").collect()
        if r["p_brand"] == "Brand#3"
    }
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(SF + "/nation.parquet").collect()
    }
    supp = {
        r["s_suppkey"]: r
        for r in spark.read.parquet(SF + "/supplier.parquet").collect()
        if nat[r["s_nationkey"]] == "NATION_4"
    }
    lo, hi = datetime(1997, 1, 1), datetime(1998, 1, 1)
    tot = collections.Counter()
    y97 = collections.Counter()
    for r in spark.read.parquet(SF + "/lineitem.parquet").collect():
        if r["l_partkey"] not in brand:
            continue
        k = (r["l_partkey"], r["l_suppkey"])
        q = round(r["l_quantity"])
        tot[k] += q
        if lo <= r["l_shipdate"] < hi:
            y97[k] += q
    per = collections.Counter()
    for k in tot:
        if k[1] in supp and y97[k] * 10 > tot[k] * 3:
            per[supp[k[1]]["s_name"]] += 1
    got = SPECS["q_tpch_q20"].fn(spark, SF).collect()
    assert [r["s_name"] for r in got] == sorted(per)
    for r in got:
        assert r["n_heavy_parts"] == per[r["s_name"]]
