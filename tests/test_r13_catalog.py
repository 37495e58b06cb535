"""r13 catalog entries and scale-knob coverage.

Covers the exact_quantiles_histogram recursion knobs (VERDICT r12 #6):
the auto-widen loop (narrow _QH_W → too many bins → width ×16 until the
collect fits) and the recursion-within-bin path (tiny _QH_BIN_ROWS_MAX →
targets re-histogrammed at 128× finer width, down to width-1 direct
resolution). Both patched runs must equal the default-constants run AND
the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import duckdb
import pytest

from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _oracle_rows(name: str, sf_dir: str):
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation", "region"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rows = con.execute(ORACLES[name]).fetchall()
    con.close()
    return sorted(rows, key=repr)


def _spark_rows(spark, name: str, sf_dir: str):
    return sorted(
        [tuple(r) for r in QUERIES[name](spark, sf_dir).collect()], key=repr
    )


class TestQuantileRecursionKnobs:
    def test_default_path_matches_oracle(self, spark):
        assert _spark_rows(spark, "exact_quantiles_histogram", SF_DIR) == (
            _oracle_rows("exact_quantiles_histogram", SF_DIR)
        )

    def test_auto_widen_from_narrow_width(self, spark, monkeypatch):
        """_QH_W = 256 cents would put sf0.001's ~6e7-cent range into
        ~200k bins — the old assert died here; the widen loop must
        recover (256 → 4096 → 65536 → ... until ≤ _QH_GUARD bins) and
        produce the identical result."""
        from govgis_nov2023_slim_spatial_server_spark.catalog import advanced

        monkeypatch.setattr(advanced, "_QH_W", 256)
        assert _spark_rows(spark, "exact_quantiles_histogram", SF_DIR) == (
            _oracle_rows("exact_quantiles_histogram", SF_DIR)
        )

    @pytest.mark.parametrize("bin_max", [50, 1])
    def test_recursion_within_bin(self, spark, monkeypatch, bin_max):
        """bin_max=50 forces at least one refine level at sf0.001
        (statuses hold hundreds of rows per coarse bin); bin_max=1
        forces refinement all the way to width-1 bins, where every
        target resolves DRIVER-SIDE (the no-scan direct path)."""
        from govgis_nov2023_slim_spatial_server_spark.catalog import advanced

        monkeypatch.setattr(advanced, "_QH_BIN_ROWS_MAX", bin_max)
        assert _spark_rows(spark, "exact_quantiles_histogram", SF_DIR) == (
            _oracle_rows("exact_quantiles_histogram", SF_DIR)
        )

    def test_both_knobs_together(self, spark, monkeypatch):
        from govgis_nov2023_slim_spatial_server_spark.catalog import advanced

        monkeypatch.setattr(advanced, "_QH_W", 512)
        monkeypatch.setattr(advanced, "_QH_BIN_ROWS_MAX", 25)
        assert _spark_rows(spark, "exact_quantiles_histogram", SF_DIR) == (
            _oracle_rows("exact_quantiles_histogram", SF_DIR)
        )


# ---------------------------------------------------------------------------
# spatial_knn_join_ring — k-nearest-neighbor spatial join (k = 5)
# ---------------------------------------------------------------------------

import random  # noqa: E402

import pandas as pd  # noqa: E402


def _write_knn_db(custkeys, partkeys, tmp_path):
    pd.DataFrame(
        {
            "c_custkey": pd.array(custkeys, dtype="int64"),
            "c_name": [f"Customer#{k}" for k in custkeys],
            "c_nationkey": pd.array([0] * len(custkeys), dtype="int32"),
            "c_acctbal": [0.0] * len(custkeys),
            "c_mktsegment": ["BUILDING"] * len(custkeys),
        }
    ).to_parquet(tmp_path / "customer.parquet", index=False)
    pd.DataFrame(
        {
            "p_partkey": pd.array(partkeys, dtype="int64"),
            "p_name": [f"part {k}" for k in partkeys],
            "p_brand": ["Brand#1"] * len(partkeys),
            "p_type": ["ECONOMY ANODIZED STEEL"] * len(partkeys),
            "p_size": pd.array([1] * len(partkeys), dtype="int32"),
            "p_retailprice": [100.0] * len(partkeys),
        }
    ).to_parquet(tmp_path / "part.parquet", index=False)


def _knn_brute_force(custkeys, partkeys, k=5):
    facs = [
        (kk, (kk % 50) * 8 + (kk % 7), (kk % 20) * 8 + (kk % 5))
        for kk in custkeys
        if kk % 10 == 1
    ]
    out = {}
    for pk in partkeys:
        px, py = (pk * 13) % 401, (pk * 29) % 161
        ranked = sorted(
            ((px - fx) ** 2 + (py - fy) ** 2, ck) for ck, fx, fy in facs
        )[:k]
        for rn, (dsq, ck) in enumerate(ranked, start=1):
            out[(pk, rn)] = (ck, dsq)
    return out


class TestKnnJoinRing:
    def test_matches_brute_force_random_keysets(self, spark, tmp_path):
        """Entry output == exact per-point top-5 by (dsq, custkey) on
        random key sets. Dense draws activate the ring-kept branch
        (5 candidates within the guarantee); sparse draws force the
        residual fallback and the fewer-than-5-facilities edge; the
        co-located draw (many custkeys ≡ same lattice position) proves
        the per-position bottom-5 dedup is lossless for top-k."""
        rng = random.Random(13)
        for trial in range(6):
            if trial % 3 == 0:  # dense: ring branch active
                custkeys = sorted(rng.sample(range(1, 2000), 600) + [1])
            elif trial % 3 == 1:  # sparse: residual dominant, < 5 facs
                custkeys = sorted(rng.sample(range(1, 1000), 25) + [1])
            else:  # co-located: many facilities share positions (lcm 700)
                base_keys = rng.sample(range(1, 100), 8)
                custkeys = sorted(
                    {b + 700 * m for b in base_keys for m in range(6)}
                )
            # 80 probe points: cross-position dsq ties (symmetric
            # facilities around a point) need density to show up — the
            # flatten-order bug the sf0.01 oracle caught survived 30
            partkeys = sorted(rng.sample(range(1, 3000), 80))
            d = tmp_path / f"t{trial}"
            d.mkdir()
            _write_knn_db(custkeys, partkeys, d)
            got = {
                (r["p_partkey"], r["nn_rank"]): (r["nn_custkey"], r["dsq"])
                for r in QUERIES["spatial_knn_join_ring"](
                    spark, str(d)
                ).collect()
            }
            want = _knn_brute_force(custkeys, partkeys)
            assert got == want

    def test_rank1_equals_nn_join(self, spark):
        """The k=5 entry's rank-1 rows ARE the k=1 entry's answer —
        the two mechanisms cross-check on the graded corpus."""
        sf = "/root/testdata/sf0.001"
        k1 = {
            r["p_partkey"]: (r["nearest_custkey"], r["dsq"])
            for r in QUERIES["spatial_nn_join_ring"](spark, sf).collect()
        }
        k5r1 = {
            r["p_partkey"]: (r["nn_custkey"], r["dsq"])
            for r in QUERIES["spatial_knn_join_ring"](spark, sf).collect()
            if r["nn_rank"] == 1
        }
        assert k1 == k5r1

    def test_guarantee_constant(self):
        """Outside the 3x3 ring of 32-unit cells the coordinate gap is
        >= 2*32 - 31 = 33, dsq >= 1089: holding 5 ring candidates with
        dsq_5 <= 1088 makes all five globally correct."""
        assert 2 * 32 - 31 == 33 and 33 * 33 == 1089

    def test_kernel_rejects_negative_custkey(self):
        """The bottom-k key packs ``(dsq << 44) | custkey``: a negative
        key would corrupt the order and collide with the -1 sentinel, so
        building the kernel over one must fail loudly."""
        from govgis_nov2023_slim_spatial_server_spark.catalog.spatial_mm import (
            _ring_bottomk_map,
        )

        _ring_bottomk_map([(3, 4, [1, 7])])
        with pytest.raises(AssertionError, match="negative custkey"):
            _ring_bottomk_map([(3, 4, [1]), (10, 2, [-1])])

    def test_plan_shapes(self, spark):
        """r16 kernel shape: the whole per-point reduction (ring tier +
        full-scan fallback) is ONE MapInPandas over the spread point
        scan — no join of any kind, no aggregation exchange, no
        checkpoint, no window sort. The only exchange is the
        round-robin probe-side spread."""
        plan = (
            QUERIES["spatial_knn_join_ring"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("MapInPandas") == 1
        for node in (
            "BroadcastHashJoin",
            "BroadcastNestedLoopJoin",
            "SortMergeJoin",
            "CartesianProduct",
            "Window",
            "HashAggregate",
        ):
            assert node not in plan, node


# ---------------------------------------------------------------------------
# spatial_clip_convex_pairs — snap-free exact convex clipping
# ---------------------------------------------------------------------------

from fractions import Fraction  # noqa: E402

from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (  # noqa: E402
    convex_clip,
    convex_poly_area2,
)


def _green_area2(pa, pb):
    """INDEPENDENT exact reference: 2·Area(A∩B) by per-edge
    Green's-theorem decomposition (each polygon edge clipped to a
    parameter interval against the other polygon's half-planes), the
    same algorithm as the DuckDB oracle but in Fractions — a different
    computation path from Sutherland–Hodgman, so agreement proves the
    geometry (the r7 integer-reference pattern)."""
    total = Fraction(0)
    for sub, clp in ((pa, pb), (pb, pa)):
        n, m = len(sub), len(clp)
        for j in range(n):
            p1, p2 = sub[j], sub[(j + 1) % n]
            dx, dy = p2[0] - p1[0], p2[1] - p1[1]
            tlo, thi = Fraction(0), Fraction(1)
            empty = False
            for i in range(m):
                q1, q2 = clp[i], clp[(i + 1) % m]
                dqx, dqy = q2[0] - q1[0], q2[1] - q1[1]
                c0 = dqx * (p1[1] - q1[1]) - dqy * (p1[0] - q1[0])
                c1 = dqx * dy - dqy * dx
                if c1 > 0:
                    tlo = max(tlo, Fraction(-c0, c1))
                elif c1 < 0:
                    thi = min(thi, Fraction(c0, -c1))
                elif c0 < 0:
                    empty = True
                    break
            if not empty and tlo < thi:
                x1, y1 = p1[0] + tlo * dx, p1[1] + tlo * dy
                x2, y2 = p1[0] + thi * dx, p1[1] + thi * dy
                total += x1 * y2 - y1 * x2
    return total


def _hull(points):
    """Andrew monotone chain on integer points, CCW, no collinear
    interior vertices."""
    pts = sorted(set(points))
    if len(pts) < 3:
        return []

    def half(seq):
        h = []
        for p in seq:
            while (
                len(h) >= 2
                and (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
                <= 0
            ):
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(reversed(pts))
    return lower[:-1] + upper[:-1]


def _lines_collide(pa, pb):
    """True if any A-edge support line coincides with a B-edge line
    (the one configuration the Green reference double-counts)."""
    def lines(poly):
        n = len(poly)
        out = []
        for i in range(n):
            p, q = poly[i], poly[(i + 1) % n]
            out.append((p, (q[0] - p[0], q[1] - p[1])))
        return out

    for (p, d1) in lines(pa):
        for (q, d2) in lines(pb):
            if d1[0] * d2[1] - d1[1] * d2[0] == 0:  # parallel
                if d1[0] * (q[1] - p[1]) - d1[1] * (q[0] - p[0]) == 0:
                    return True
    return False


class TestConvexClipKernel:
    def test_random_convex_pairs_match_green_reference(self):
        """400 random integer convex-hull pairs (arbitrary edge slopes,
        NOT just the 45° store family): Sutherland–Hodgman area equals
        the independent Green's-decomposition area exactly, in
        Fractions. Draws where support lines coincide are skipped (the
        reference double-counts shared boundary; the store proves that
        case impossible by congruence)."""
        random = __import__("random").Random(77)
        checked = 0
        for _ in range(400):
            pa = _hull(
                [(random.randint(0, 40), random.randint(0, 40)) for _ in range(7)]
            )
            dx0, dy0 = random.randint(-20, 50), random.randint(-20, 50)
            pb = _hull(
                [
                    (dx0 + random.randint(0, 30), dy0 + random.randint(0, 30))
                    for _ in range(6)
                ]
            )
            if len(pa) < 3 or len(pb) < 3 or _lines_collide(pa, pb):
                continue
            checked += 1
            poly = convex_clip(pa, pb)
            sh_area2 = convex_poly_area2(poly) if len(poly) >= 3 else Fraction(0)
            assert sh_area2 == _green_area2(pa, pb)
            # symmetry: clipping B by A gives the same region
            poly2 = convex_clip(pb, pa)
            sh2 = convex_poly_area2(poly2) if len(poly2) >= 3 else Fraction(0)
            assert sh2 == sh_area2
        assert checked >= 300  # the skip filter must not eat the test

    def test_store_congruences_exclude_degeneracy(self):
        """The general-position proof is algebraic; sweep 20k keys and
        assert the congruence classes it rests on: A coords ≡ 0 (mod 4)
        so every A support-line constant (x, y, x+y, x−y families) is
        ≡ 0 (mod 4); B vertex coords are never ≡ 0 (mod 4), B vertex
        x±y sums are always ODD, and B 45°-line constants are ODD."""
        for k in range(1, 20001):
            if k % 2 == 1:  # A octagon
                ax, ay, r = 4 * (k % 101), 4 * (k % 89), 8 + 4 * ((k // 2) % 2)
                vs = [
                    (ax - r + 4, ay - r), (ax + r - 4, ay - r),
                    (ax + r, ay - r + 4), (ax + r, ay + r - 4),
                    (ax + r - 4, ay + r), (ax - r + 4, ay + r),
                    (ax - r, ay + r - 4), (ax - r, ay - r + 4),
                ]
                for x, y in vs:
                    assert x % 4 == 0 and y % 4 == 0
            else:  # B diamond
                bx, by, s = 4 * (k % 97) + 2, 4 * (k % 103) + 2, 4 * (k % 3) + 1
                vs = [(bx + s, by), (bx, by + s), (bx - s, by), (bx, by - s)]
                for x, y in vs:
                    assert x % 4 != 0 and y % 4 != 0
                    assert (x + y) % 2 == 1 and (x - y) % 2 == 1
                for const in (bx + by + s, bx + by - s, bx - by + s, bx - by - s):
                    assert const % 2 == 1

    def test_containment_and_disjoint_fixtures(self):
        """B strictly inside A → the clip IS B (4 vertices, diamond
        area 2s²); disjoint pair → empty."""
        pa = [(0, 0), (40, 0), (40, 40), (0, 40)]
        pb = [(25, 20), (20, 25), (15, 20), (20, 15)]  # s = 5 diamond
        poly = convex_clip(pa, pb)
        assert sorted(poly) == sorted([(Fraction(25), Fraction(20)),
                                       (Fraction(20), Fraction(25)),
                                       (Fraction(15), Fraction(20)),
                                       (Fraction(20), Fraction(15))])
        assert convex_poly_area2(poly) == 2 * 2 * 5 * 5
        assert convex_clip([(0, 0), (4, 0), (4, 4), (0, 4)],
                           [(10, 10), (14, 10), (14, 14), (10, 14)]) == []


# ---------------------------------------------------------------------------
# stream_full_outer_join — both-null-side emission
# ---------------------------------------------------------------------------


def test_stream_full_outer_join_both_null_sides(spark, tmp_path):
    """Full-outer streaming contract: unmatched purchases emit one
    NULL-click row, unmatched clicks emit one NULL-purchase row (the
    side the left-outer entry cannot show), matches emit normally, and
    clicks strictly after their user's purchase window attribute
    nothing (they become orphans)."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [  # (event_id, user_id, seconds, type)
        (1, 1, 1000, "click"),
        (2, 1, 1500, "purchase"),  # matches click 1
        (3, 2, 1600, "purchase"),  # no click -> purchase-null row
        (4, 3, 5000, "purchase"),  # click later -> null + orphan click
        (5, 3, 6000, "click"),
        (6, 4, 9000, "click"),
        (7, 4, 9100, "click"),
        (8, 4, 9200, "purchase"),  # two matches
        (9, 5, 9500, "click"),  # click-only user -> orphan click
    ]
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "user_id": [r[1] for r in rows],
            "ts": [base + pd.Timedelta(seconds=r[2]) for r in rows],
            "event_type": [r[3] for r in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(f"{tmp_path}/events.parquet", index=False)
    rows_out = [
        (r["purchase_id"], r["click_id"])
        for r in QUERIES["stream_full_outer_join"](
            spark, str(tmp_path)
        ).collect()
    ]
    got = set(rows_out)
    assert got == {
        (None, 5),  # orphan click (arrived after its user's purchase)
        (None, 9),  # click-only user
        (2, 1),
        (3, None),
        (4, None),
        (8, 6),
        (8, 7),
    }
    assert len(rows_out) == 7  # no duplicate emissions


def test_vectorized_kernel_equals_rational_sh_on_store_family():
    """Close the proof triangle directly: the numpy int64 Green kernel
    (`_clip_pieces_int64`, what the entry executes) equals the rational
    Sutherland–Hodgman `convex_clip` (the general reference) on a
    3000-key sweep of the actual store family — piece count AND
    8·area, pair by pair."""
    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        _clip_pieces_int64,
    )

    pairs = []
    keys = list(range(1, 160))
    A = [
        (k, 4 * (k % 101), 4 * (k % 89), 8 + 4 * ((k // 2) % 2))
        for k in keys
        if k % 2 == 1
    ]
    B = [
        (k, 4 * (k % 97) + 2, 4 * (k % 103) + 2, 4 * (k % 3) + 1)
        for k in keys
        if k % 2 == 0
    ]
    for ak, ax, ay, r in A:
        for bk, bx, by, s in B:
            if (
                ax - r <= bx + s and bx - s <= ax + r
                and ay - r <= by + s and by - s <= ay + r
            ):
                av = [
                    (ax - r + 4, ay - r), (ax + r - 4, ay - r),
                    (ax + r, ay - r + 4), (ax + r, ay + r - 4),
                    (ax + r - 4, ay + r), (ax - r + 4, ay + r),
                    (ax - r, ay + r - 4), (ax - r, ay - r + 4),
                ]
                bv = [(bx + s, by), (bx, by + s), (bx - s, by), (bx, by - s)]
                pairs.append((av, bv))
    assert len(pairs) >= 50
    axm = np.array([[p[0] for p in av] for av, _ in pairs], dtype=np.int64)
    aym = np.array([[p[1] for p in av] for av, _ in pairs], dtype=np.int64)
    bxm = np.array([[p[0] for p in bv] for _, bv in pairs], dtype=np.int64)
    bym = np.array([[p[1] for p in bv] for _, bv in pairs], dtype=np.int64)
    va, ca = _clip_pieces_int64(axm, aym, bxm, bym)
    vb, cb = _clip_pieces_int64(bxm, bym, axm, aym)
    for i, (av, bv) in enumerate(pairs):
        poly = convex_clip(av, bv)
        a2 = convex_poly_area2(poly) if len(poly) >= 3 else 0
        total = int(ca[i].sum() + cb[i].sum())
        assert total == 4 * a2  # 8·area both paths
        if a2 > 0:
            assert int(va[i].sum() + vb[i].sum()) == len(poly)
