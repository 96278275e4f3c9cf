"""Invariant tests for the session-17 additions (contract_raster.py).

Oracle parity is covered by tools/parity_sweep.py and
test_contract_oracle.py; these pin the geometric/graph identities
against an INDEPENDENT numpy re-computation from the raw parquet — a
third engine, so a shared Spark/DuckDB formula mistake cannot hide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests.conftest import SF_CORRECT

CS = 50_000


def _grid() -> dict[tuple[int, int], int]:
    ev = pd.read_parquet(f"{SF_CORRECT}/events.parquet")
    eid = ev["event_id"].to_numpy(np.int64)
    x = (eid % 787) * 889.45 + 17.3
    y = (np.floor(eid / 13.0).astype(np.int64) % 787) * 889.45 + 11.7
    cx = np.floor(x / CS).astype(np.int64)
    cy = np.floor(y / CS).astype(np.int64)
    grid: dict[tuple[int, int], int] = {}
    for a, b in zip(cx, cy):
        grid[(int(a), int(b))] = grid.get((int(a), int(b)), 0) + 1
    return grid


class TestMarchingSquares:
    def test_matches_bruteforce(self, spark):
        from osmgraft.contract_raster import marching_squares_cases

        rows = {
            r["case_code"]: r
            for r in marching_squares_cases(spark, SF_CORRECT).collect()
        }
        grid = _grid()
        n_cells, z_total = len(grid), sum(grid.values())
        above = {c for c, z in grid.items() if z * n_cells >= z_total}
        dual = {
            (cx - ox, cy - oy)
            for cx, cy in above
            for ox, oy in ((0, 0), (1, 0), (0, 1), (1, 1))
        }
        want: dict[int, int] = {}
        for dx, dy in dual:
            code = (
                ((dx, dy) in above)
                + 2 * ((dx + 1, dy) in above)
                + 4 * ((dx + 1, dy + 1) in above)
                + 8 * ((dx, dy + 1) in above)
            )
            want[code] = want.get(code, 0) + 1
        assert {k: v for k, v in want.items()} == {
            k: r["n_cells"] for k, r in rows.items()
        }
        # case 0 is impossible by construction (every dual cell has an
        # above corner); segment counts follow the case census
        assert 0 not in rows
        for code, r in rows.items():
            segs = 0 if code == 15 else (2 if code in (5, 10) else 1)
            assert r["n_segments"] == r["n_cells"] * segs
            if code == 15:
                assert r["contour_len"] == 0.0
            elif code in (3, 6, 9, 12):
                assert r["contour_len"] == round(r["n_cells"] * 1.0 * CS, 3)

    def test_contour_is_closed_curve_parity(self, spark):
        # every above-region boundary is a union of closed curves under
        # midpoint marching squares, so corner-cut cases pair up: the
        # total number of segment ENDS on vertical edges equals that on
        # horizontal edges (each segment has one of each for corner
        # cases, two of one kind for straights) — a cheap topological
        # sanity check that the census is self-consistent.
        from osmgraft.contract_raster import marching_squares_cases

        rows = marching_squares_cases(spark, SF_CORRECT).collect()
        # each interior raster EDGE with one endpoint above and one not
        # is crossed by exactly one segment end in each adjacent dual
        # cell => total segment ends = 2 * (# sign-change edges).
        grid = _grid()
        n_cells, z_total = len(grid), sum(grid.values())
        above = {c for c, z in grid.items() if z * n_cells >= z_total}

        # count each above/below corner edge once, from its above side
        # (below corners include off-raster zero cells)
        sign_changes = sum(
            (cx + ox, cy + oy) not in above
            for cx, cy in above
            for ox, oy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        )
        total_ends = sum(2 * r["n_segments"] for r in rows)
        assert total_ends == 2 * sign_changes


class TestFocalMean:
    def test_matches_bruteforce(self, spark):
        from osmgraft.contract_raster import focal_mean_raster

        got = focal_mean_raster(spark, SF_CORRECT).collect()
        grid = _grid()
        recs = []
        for (cx, cy), z in grid.items():
            s = sum(
                grid.get((cx + ox, cy + oy), 0)
                for ox in (-1, 0, 1)
                for oy in (-1, 0, 1)
            )
            recs.append((abs(9 * z - s), cx, cy, z, s))
        recs.sort(key=lambda r: (-r[0], r[1], r[2]))
        assert len(got) == 10
        for row, (rough, cx, cy, z, s) in zip(got, recs[:10]):
            assert (row["cx"], row["cy"], row["z"]) == (cx, cy, z)
            assert row["focal_sum"] == s
            assert row["rough"] == rough


class TestZonalRings:
    def test_matches_bruteforce(self, spark):
        from osmgraft.contract_raster import zonal_ring_stats

        rows = {r["ring"]: r for r in zonal_ring_stats(spark, SF_CORRECT).collect()}
        grid = _grid()
        z_total = sum(grid.values())
        want: dict[int, list[int]] = {}
        for (cx, cy), z in grid.items():
            d = np.sqrt(
                ((cx + 0.5) * CS - 350000.0) ** 2
                + ((cy + 0.5) * CS - 350000.0) ** 2
            )
            ring = int(np.floor(round(d, 6) / 70000.0))
            acc = want.setdefault(ring, [0, 0, 0])
            acc[0] += 1
            acc[1] += z
            acc[2] = max(acc[2], z)
        assert set(rows) == set(want)
        for ring, (n, sz, mx) in want.items():
            r = rows[ring]
            assert (r["n_cells"], r["sum_z"], r["max_z"]) == (n, sz, mx)
            assert r["mean_z_micro"] == int(np.floor(sz * 1e6 / n + 0.5))
            assert r["share_ppm"] == int(np.floor(sz * 1e6 / z_total + 0.5))
        # rings partition the raster: shares sum to ~1e6
        assert abs(sum(r["share_ppm"] for r in rows.values()) - 1_000_000) <= len(rows)


class TestMstHubBackbone:
    def _hubs(self):
        ev = pd.read_parquet(f"{SF_CORRECT}/events.parquet")
        eid = ev["event_id"].to_numpy(np.int64)
        x = np.round((eid % 787) * 889.45 + 17.3).astype(np.int64)
        y = np.round(
            (np.floor(eid / 13.0).astype(np.int64) % 787) * 889.45 + 11.7
        ).astype(np.int64)
        hub = (ev["user_id"].to_numpy(np.int64) % 37).astype(np.int64)
        df = pd.DataFrame({"hub": hub, "x": x, "y": y})
        g = df.groupby("hub").agg(hx=("x", "min"), hy=("y", "min"))
        return g.sort_index()

    def test_matches_numpy_prim(self, spark):
        from osmgraft.contract_raster import mst_hub_backbone

        got = mst_hub_backbone(spark, SF_CORRECT).collect()
        hubs = self._hubs()
        ids = hubs.index.to_numpy()
        pts = hubs[["hx", "hy"]].to_numpy(np.int64)
        n = len(ids)
        # Prim with the SAME strict total order (w*2048 + 37u + v)
        dx = pts[:, None, 0] - pts[None, :, 0]
        dy = pts[:, None, 1] - pts[None, :, 1]
        w = dx * dx + dy * dy
        wp = np.full((n, n), np.iinfo(np.int64).max, dtype=np.int64)
        for i in range(n):
            for j in range(n):
                if i == j:
                    continue
                u, v = (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
                wp[i, j] = w[i, j] * 2048 + 37 * u + v
        in_tree = np.zeros(n, dtype=bool)
        in_tree[0] = True
        best = wp[0].copy()
        best_from = np.zeros(n, dtype=np.int64)
        edges = set()
        total = 0
        for _ in range(n - 1):
            j = int(
                np.argmin(np.where(in_tree, np.iinfo(np.int64).max, best))
            )
            i = int(best_from[j])
            u, v = (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
            edges.add((int(u), int(v)))
            total += int(w[i, j])
            in_tree[j] = True
            upd = wp[j] < best
            best = np.where(upd, wp[j], best)
            best_from = np.where(upd, j, best_from)
        got_edges = {(r["hub_u"], r["hub_v"]) for r in got}
        assert got_edges == edges
        assert len(got) == n - 1
        assert sum(r["weight"] for r in got) == total
        # heaviest-first ordering
        ws = [r["weight"] for r in got]
        assert ws == sorted(ws, reverse=True)
